"""Interpolated Kneser-Ney TRIGRAM LM scoring (VERDICT r14 #3).

One more packed level over ``kn_lm.py``'s bigram scorer: CCNet's KenLM
filters ship 5-gram KN models in production; trigram is the
fixture-honest step up the ladder (Kneser & Ney 1995; Chen & Goodman
1999's interpolated form; Heafield 2011 for the KenLM serving shape).
Absolute discount D = 0.75 at BOTH levels:

    P(w3|w1,w2) = (c(w1w2w3) - D) / c(w1w2)  +  lam(w1,w2) * Pmid(w3|w2)
    lam(w1,w2)  = D * N1+(w1,w2,*) / c(w1w2)
    Pmid(w3|w2) = (N1+(*,w2,w3) - D) / N1+(*,w2,*)
                  + lam_mid(w2) * Pcont(w3)
    lam_mid(w2) = D * N1+t(w2,*) / N1+(*,w2,*)
    Pcont(w3)   = N1+(*,w3) / N

where the middle and bottom levels use CONTINUATION (type) counts — how
many distinct contexts a suffix follows, not how often (the KN idea):
N1+(*,w2,w3) = distinct w1 preceding bigram (w2,w3); N1+(*,w2,*) is its
sum over w3; N1+t(w2,*) = distinct w3 with a continuation count under
w2; N1+(*,w3) = distinct w2 preceding w3 over DISTINCT bigram suffixes;
N = distinct bigram suffixes.  Every count derives from the ONE trigram
count table — no second corpus pass.  Summed over the full vocabulary
the interpolated form normalizes level by level (sum_w3 P = 1 exactly),
pinned by the pure-Python full-model replica in tests.

THREE-WAY PACKING: tokens hash row-locally into 20-bit md5 buckets
(empty tokens dropped first — the ladder's tokenization rule) and each
trigram packs into ONE signed int64 ``tg = w1*2^40 + w2*2^20 + w3``
(< 2^60, the kn_lm/contamination packing generalized), so the
operator's only corpus-wide exchange carries a single 8-byte key.  The
bigram PREFIX is ``tg div 2^20``, the bigram SUFFIX is ``tg % 2^40``,
the middle word ``(tg div 2^20) % 2^20`` — every lower-order statistic
is integer arithmetic on the packed key, never a re-tokenization.

BOUNDED SERVING MODEL (the kn_lm precedent): top-``KN3_TOP`` trigram
cells carry the fully interpolated probability (exact statistics from
the model-sized joins); outside the cell table the score backs off to
``lam(w1,w2) * Pmid-approx(w3|w2)`` with lam from the top-``KN3_VOCAB``
prefix table (unknown prefix -> lam = 1.0), the mid level from the
top-``KN3_VOCAB`` continuation-bigram + middle-word tables (both known
-> the discounted mid formula; middle word unknown -> lam_mid = 1.0),
and Pcont flooring at 1/N for unseen suffixes.  Unnormalized at the
margins, as any pruned serving LM is.  All five model tables broadcast.

Cross-engine determinism: per-position scores are fixed-point BIGINTs
``FLOOR(1e6 * -ln P + 0.5)`` with P written as the IDENTICAL IEEE
expression tree in both engines; doc sums are exact integer sums; all
model tiebreaks run in the packed-hash domain.

Scale shape: one corpus scan -> row-local 20-bit hash array -> inline-
exploded packed trigrams (explode in the SAME select as the packing —
the contamination CollapseProject discipline) -> ONE slim count
exchange; ctx/mid/midctx/cont/nt are model-sized GROUP BYs over the
count table; scoring is five broadcast left-joins + one per-doc
aggregation.  Raw text never crosses an exchange.

The chain, the serving model, and the per-doc score builder live in
``functions/kn3_core.py``, shared with the CCNet bucketing composition
(``operators/kn_ccnet.py``).

Reference parity note: SQL2ALL has no LM surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2), completing the ladder at unigram / bigram-SB /
trigram-SB / KN-bigram / KN-trigram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Re-exported model constants: the pure-Python full-model replica in
# tests/test_invariants.py (and any downstream reader) imports them
# from this module, the operator's public face.
from sql2all_spark.functions.kn3_core import (  # noqa: F401
    _B1,
    _B2,
    KN3_D,
    KN3_SCALE,
    KN3_TOKEN_BITS,
    KN3_TOP,
    KN3_VOCAB,
    KN3_DOC_SELECT,
    kn3_chain_ctes,
    kn3_doc_scores,
)
from sql2all_spark.registry import register


def _kn3_oracle() -> str:
    return f"""
WITH {kn3_chain_ctes()}
{KN3_DOC_SELECT}
"""


@register(
    "text_kn_trigram_score",
    oracle=_kn3_oracle(),
    doc="Interpolated Kneser-Ney TRIGRAM LM score (Kneser & Ney 1995,"
    " Chen & Goodman interpolated form) — one more packed level over"
    f" the KN bigram: absolute discount D={KN3_D} at both levels, the"
    " middle/bottom levels on CONTINUATION (type) counts derived"
    " entirely from the single trigram count table.  Tokens in 20-bit"
    " md5 buckets, each trigram PACKED into one int64 (3x20 < 2^60) so"
    " the only corpus-wide exchange carries an 8-byte key; bounded"
    f" serving model (top-{KN3_TOP} cells + four top-{KN3_VOCAB}"
    " ctx/mid/midctx/cont tables, all broadcast).  Per-position scores"
    " are fixed-point BIGINTs from an IEEE expression tree written"
    " identically in both engines.",
)
def text_kn_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kn3_doc_scores(spark, sf_dir)
