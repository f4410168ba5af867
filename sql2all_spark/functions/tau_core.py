"""Shared per-domain-tau CTE chain (non-registering core module).

``operators/tau_apply.py`` and ``operators/tau_caps.py`` both derive
per-domain discrete-median thresholds over the classifier-scored,
domain-assigned corpus.  The chain lives here, where nothing
registers, so both operators share one definition.

Expected context: callers prepend ``clf_core._w_chain_sql`` (defines
``feats`` / ``w{CLF_ROUNDS}``) and ``domain_core.assign_ctes`` (defines
``assign``).
"""

from __future__ import annotations

from sql2all_spark.functions.clf_core import (
    CLF_ROUNDS,
    _Z_W_SQL,
    _p_fx_sql,
)


def tau_chain_ctes(carry: str = "") -> str:
    """The dom/scored/joined/ranked/tau CTE block — shared between the
    tau APPLY leg and the caps composition.  ``carry`` names one extra
    feats column (e.g. ``"source"``) threaded through
    scored -> joined -> ranked; the default output is byte-identical
    to the r15 tau_apply oracle text (sf1 oracle-cache stability)."""
    c1 = f", f.{carry}" if carry else ""
    c2 = f", s.{carry}" if carry else ""
    c3 = f", {carry}" if carry else ""
    return f"""dom AS (SELECT vec_id, c_label AS domain FROM assign WHERE rk = 1),
scored AS (
  SELECT f.doc_id{c1}, {_p_fx_sql(_Z_W_SQL)} AS p_fx
  FROM feats f, w{CLF_ROUNDS} w
),
joined AS (
  SELECT COALESCE(CAST(d.domain AS VARCHAR), 'unassigned') AS domain,
         s.doc_id{c2}, s.p_fx
  FROM scored s LEFT JOIN dom d ON d.vec_id = s.doc_id
),
ranked AS (
  SELECT domain, doc_id{c3}, p_fx,
         ROW_NUMBER() OVER (
           PARTITION BY domain ORDER BY p_fx ASC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY domain) AS n
  FROM joined
),
tau AS (
  SELECT domain, p_fx AS tau FROM ranked WHERE rn = (n + 1) // 2
)"""
