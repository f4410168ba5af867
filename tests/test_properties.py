"""Property-based cross-engine tests (hypothesis).

The oracle gate proves engine equality on the FIXED test corpus; these
properties prove the shared primitives agree on ARBITRARY inputs — the
md5-derived hashing every dedup/sampling/LSH operator keys on, the
z-order bit interleave, and the chunk slicing the curation family uses.
A silent divergence in any of these would make oracle pairs drift apart
only on inputs the fixtures happen not to contain; hypothesis hunts for
exactly those.

Each example batch is evaluated as ONE Spark job and ONE DuckDB query
over the same rows (a job per example would be prohibitively slow), so
max_examples stays low while each example carries many generated rows.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from sql2all_spark import looputil
from sql2all_spark.functions.hashing import (
    base_hash,
    base_hash_sql,
    hash_bucket,
    hash_bucket_sql,
)
from sql2all_spark.operators.layout import interleave_bits, interleave_bits_sql

# no NUL (pandas->duckdb VARCHAR), no surrogates (not valid UTF-8)
_TEXT = st.text(
    alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
    max_size=40,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,  # each example runs a Spark job
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_SETTINGS
@given(st.lists(_TEXT, min_size=1, max_size=50))
def test_base_hash_is_engine_identical(spark, duck, strings):
    pdf = pd.DataFrame({"s": strings})
    got = [
        r["h"]
        for r in spark.createDataFrame(pdf)
        .select(base_hash(F.col("s")).alias("h"))
        .collect()
    ]
    duck.register("prop_t", pdf)
    want = [h for (h,) in duck.execute(
        f"SELECT {base_hash_sql('s')} FROM prop_t"
    ).fetchall()]
    duck.unregister("prop_t")
    assert got == want
    assert all(h is not None and 0 <= h < 1 << 60 for h in got)


@_SETTINGS
@given(st.lists(st.integers(-(1 << 62), 1 << 62), min_size=1, max_size=50))
def test_hash_bucket_engine_identical_and_in_range(spark, duck, keys):
    pdf = pd.DataFrame({"k": keys}, dtype="int64")
    got = [
        r["b"]
        for r in spark.createDataFrame(pdf)
        .select(hash_bucket(F.col("k").cast("string"), 100).alias("b"))
        .collect()
    ]
    duck.register("prop_t", pdf)
    want = [b for (b,) in duck.execute(
        f"SELECT {hash_bucket_sql('k', 100)} FROM prop_t"
    ).fetchall()]
    duck.unregister("prop_t")
    assert got == want
    assert all(0 <= b < 100 for b in got)


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=64,
    )
)
def test_zorder_interleave_engine_identical(spark, duck, pairs):
    pdf = pd.DataFrame(pairs, columns=["a", "b"], dtype="int64")
    got = [
        r["z"]
        for r in spark.createDataFrame(pdf)
        .select(interleave_bits(F.col("a"), F.col("b")).alias("z"))
        .collect()
    ]
    duck.register("prop_t", pdf)
    want = [z for (z,) in duck.execute(
        f"SELECT {interleave_bits_sql('a', 'b')} FROM prop_t"
    ).fetchall()]
    duck.unregister("prop_t")
    assert got == want
    # the interleave is a bijection on [0,256)^2 -> [0, 2^16)
    assert all(0 <= z < 1 << 16 for z in got)
    # de-interleave recovers the inputs (self-inverse check, python-side)
    for (a, b), z in zip(pairs, got):
        ra = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
        rb = sum(((z >> (2 * i)) & 1) << i for i in range(8))
        assert (ra, rb) == (a, b)


# words must be 'plain' (no spaces) or the join/split round trip is lossy
_WORD = st.text(
    alphabet=st.characters(
        blacklist_characters="\x00 ", blacklist_categories=("Cs", "Zs")
    ),
    min_size=1,
    max_size=8,
)


@_SETTINGS
@given(st.lists(st.lists(_WORD, min_size=1, max_size=30), min_size=1, max_size=20))
def test_chunk_slicing_engine_identical(spark, duck, docs):
    """The curation family's chunk unit: Spark slice/array_join must agree
    with DuckDB list_slice/array_to_string for every (doc, chunk index),
    including the ragged final chunk."""
    from sql2all_spark.operators.curation import CHUNK_K

    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "text": [" ".join(w) for w in docs]}
    )
    words = F.split("text", " ")
    n_chunks = F.floor(
        (F.size(words) + F.lit(CHUNK_K - 1)) / F.lit(CHUNK_K)
    )
    sdf = (
        spark.createDataFrame(pdf)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.array_join(
                            F.slice(words, i * CHUNK_K + 1, CHUNK_K), " "
                        ).alias("chunk"),
                    ),
                )
            ).alias("c"),
        )
        .select("doc_id", "c.i", "c.chunk")
        .collect()
    )
    got = sorted((r["doc_id"], r["i"], r["chunk"]) for r in sdf)
    duck.register("prop_t", pdf)
    want = sorted(
        duck.execute(f"""
        SELECT doc_id, i,
               array_to_string(list_slice(words, i*{CHUNK_K}+1,
                                          i*{CHUNK_K}+{CHUNK_K}), ' ')
        FROM (SELECT doc_id, words,
                     UNNEST(range(0, (len(words)+{CHUNK_K - 1})//{CHUNK_K}))
                       AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS words
                    FROM prop_t))
    """).fetchall()
    )
    duck.unregister("prop_t")
    assert got == want
    # every token lands in exactly one chunk: reassembling the chunks in
    # positional order recovers the document verbatim
    by_doc: dict[int, list[str]] = {}
    for d, _i, c in got:  # got is sorted by (doc_id, i)
        by_doc.setdefault(d, []).append(c)
    for doc_id, chunks in by_doc.items():
        assert " ".join(chunks) == pdf["text"][doc_id]


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 10**15),
    st.lists(st.integers(1, 10**7), min_size=1, max_size=20),
)
def test_epoch_alloc_integer_split_identity(budget, weights):
    """sample_epoch_plan's overflow-safe decomposition must equal the
    true floor(B*w/S) for ANY budget/weights — pure arithmetic, verified
    against python bignums (which cannot overflow)."""
    ssum = sum(weights)
    for w in weights:
        decomposed = w * (budget // ssum) + (w * (budget % ssum)) // ssum
        assert decomposed == (budget * w) // ssum
        # int64-safety of the residual product (what the engines compute):
        assert w * (budget % ssum) < w * ssum


@_SETTINGS
@given(
    st.lists(
        st.decimals(
            min_value=-10**6, max_value=10**6, places=2, allow_nan=False
        ),
        min_size=2,
        max_size=200,
    ),
    st.randoms(use_true_random=False),
)
def test_dsum_is_permutation_and_partitioning_invariant(spark, values, rng):
    """The decimal-routed sum (functions/exact.dsum) must yield the SAME
    double for any row order and any partitioning — the property that
    makes Spark's 32-way partial aggregation agree with DuckDB's serial
    scan.  (A raw double sum fails this: float addition is not
    associative.)"""
    from sql2all_spark.functions.exact import dsum

    floats = [float(v) for v in values]
    shuffled = floats[:]
    rng.shuffle(shuffled)
    out = []
    for data, parts in ((floats, 1), (shuffled, 7)):
        pdf = pd.DataFrame({"x": data})
        df = spark.createDataFrame(pdf).repartition(parts)
        out.append(df.agg(dsum(F.col("x")).alias("s")).collect()[0]["s"])
    assert out[0] == out[1]  # bit-identical, not approximately equal


# --- round-9 primitives --------------------------------------------------

_WORD = st.text(alphabet="abc", min_size=0, max_size=12)


@_SETTINGS
@given(
    st.lists(_WORD, min_size=1, max_size=30),
    st.sampled_from(["ab", "ba", "ac", "ca", "bc", "cb"]),
)
def test_bpe_pass_matches_greedy_reference_in_both_engines(spark, duck, words, merge):
    """The parallel-mask BPE merge pass (legal because sym_a != sym_b ⇒
    matches can't overlap) must equal TRUE greedy left-to-right merging —
    in the Spark higher-order formulation AND the DuckDB lambda twin —
    on arbitrary words, not just the fixture vocabulary."""
    from sql2all_spark.operators.tokenize import _bpe_pass_col, _bpe_pass_sql

    a, b = merge[0], merge[1]

    def greedy(word: str) -> list[str]:
        syms, out, i = list(word), [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    want = [greedy(w) for w in words]

    pdf = pd.DataFrame({"word": words})
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    merges = F.array(
        F.struct(
            F.lit(1).alias("rank"), F.lit(a).alias("sym_a"), F.lit(b).alias("sym_b")
        )
    )
    got_spark = [
        r["enc"]
        for r in spark.createDataFrame(pdf)
        .select(
            F.when(F.length("word") > 0, F.aggregate(merges, chars, _bpe_pass_col))
            .otherwise(F.array().cast("array<string>"))
            .alias("enc")
        )
        .collect()
    ]
    assert got_spark == want

    duck.register("prop_bpe", pdf)
    sql = f"""
WITH e0 AS (
  SELECT word,
         list_transform(range(1, length(word) + 1),
                        i -> substr(word, i, 1)) AS syms,
         [struct_pack(rank := 1, sym_a := '{a}', sym_b := '{b}')] AS merges
  FROM prop_bpe
)
SELECT {_bpe_pass_sql(1)} AS enc FROM e0
"""
    got_duck = [list(e) for (e,) in duck.execute(sql).fetchall()]
    duck.unregister("prop_bpe")
    assert got_duck == want


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=60,
    )
)
def test_union_find_components_match_transitive_closure(edges):
    """The sf1 replay verifier's union-find must agree with a brute-force
    transitive closure (min-label semantics) on arbitrary graphs."""
    from tools.verify_clusters_sf1 import components

    pairs = pd.DataFrame(
        {"doc_a": [a for a, _ in edges], "doc_b": [b for _, b in edges]}
    )
    got = components(pairs)
    # brute force: BFS from every node over the undirected edge set
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for start in adj:
        seen, todo = {start}, [start]
        while todo:
            x = todo.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    todo.append(y)
        want[start] = min(seen)
    assert got == want


_EDGES = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=0, max_size=30
)


@_SETTINGS
@given(_EDGES)
def test_star_components_local_and_distributed_paths_agree(spark, edges):
    """Driver union-find and the distributed star contraction give the
    same labels on random edge lists, with duplicates, reversed edges
    and self-loops mixed in."""
    from sql2all_spark.operators.graph import star_components

    head = edges[:5]
    edges = edges + head + [(v, u) for u, v in head] + [(u, u) for u, _ in head[:2]]
    df = spark.createDataFrame(edges, "u long, v long")

    def labels():
        return sorted(map(tuple, star_components(df)[0].collect()))

    local = labels()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(looputil, "LOCAL_LOOP_MAX_ROWS", -1)  # -1: empty lists too
        assert labels() == local


# a tie-prone count range; symbols spanning ASCII, Latin-1 (é), CJK (中),
# the U+E000-U+FFFF block (ｱ) and the supplementary plane (𝄞): UTF-16 puts
# 𝄞 before ｱ, code-point and UTF-8 byte order put it after
_VOCAB = st.lists(
    st.tuples(
        st.integers(1, 3), st.text(alphabet="abé中ｱ𝄞", min_size=1, max_size=6)
    ),
    min_size=1,
    max_size=25,
)


@_SETTINGS
@example(vocab=[(1, "𝄞ｱ"), (1, "ｱ𝄞"), (1, "中é"), (1, "é中"), (1, "ab")])
@given(_VOCAB)
def test_bpe_train_local_and_distributed_paths_agree(spark, vocab):
    """Driver BPE training and the distributed merge rounds give the same
    rules (rank, pair, count) and the same final vocab on random weighted
    vocabularies, including pair-count ties broken by symbol order."""
    from sql2all_spark.operators.bpe_train import _train_vocab

    df = spark.createDataFrame(
        [(c, list(w)) for c, w in vocab], "c long, syms array<string>"
    )

    def train():
        rules, final = _train_vocab(df, 6)
        return rules, sorted((c, tuple(s)) for c, s in final.collect())

    local = train()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(looputil, "LOCAL_LOOP_MAX_ROWS", -1)
        assert train() == local


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(alphabet="ab c", max_size=30), min_size=1, max_size=12))
def test_phash_stub_matches_oracle_sql(duck, texts):
    """The mapInPandas pHash stub (Python md5 bit-votes) must equal the
    oracle's SQL formulation bit-for-bit on arbitrary payloads — the
    property that lets a Python codec path be value-checked by a SQL
    oracle at all."""
    from sql2all_spark.operators.multimodal import _phash_pandas, _phash_oracle

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "payload": [t.encode("utf-8") for t in texts],
        }
    )
    got = pd.concat(list(_phash_pandas(iter([pdf]))))
    got_map = dict(zip(got["doc_id"], got["phash"]))

    duck.register("documents_prop", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    sigs_cte = _phash_oracle().split("SELECT a.doc_id")[0]
    sql = sigs_cte.replace("FROM documents", "FROM documents_prop") + "SELECT doc_id, phash FROM sigs"
    want_map = dict(duck.execute(sql).fetchall())
    duck.unregister("documents_prop")
    assert got_map == want_map
