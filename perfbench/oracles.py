"""Independent reference results for the correctness checks.

- ``lfq_pipeline``: a DuckDB replay of entry point A on the same TSV,
  following the repo's ``_pipeline_phospho_oracle`` SQL and its
  recursive-CTE incomplete beta ``_betainc_chain_sql`` for p-values —
  none of the program's Spark or UDF code is used.
  PCA's explained-variance ratio, scores and loadings are checked
  against numpy's SVD of the collected imputed table.
- ``corpus_dedup``: planted-pair recall, exact shingle Jaccard in pure
  Python, exact cosine top-k in numpy.

Plus :func:`digest`, an order-independent fingerprint of a result.
"""

from __future__ import annotations

import ast
import hashlib
import math
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# digests and comparisons
# ---------------------------------------------------------------------------


def digest(df: pd.DataFrame) -> str:
    """sha256 of the rows sorted by every column: identical for any row
    order or column order of the same set of rows."""
    cols = sorted(df.columns)
    canon = df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    text = canon.to_csv(index=False, float_format="%.17g")
    return hashlib.sha256(text.encode()).hexdigest()


def frames_match(got: pd.DataFrame, want: pd.DataFrame,
                 keys: list[str]) -> bool:
    """Same key set, and every other column of ``want`` equal (numbers to
    1e-6 relative, NaN equal to NaN)."""
    if len(got) != len(want) or set(want.columns) - set(got.columns):
        return False
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        a, b = g[c], w[c]
        if c in keys or not pd.api.types.is_numeric_dtype(b) \
                or pd.api.types.is_bool_dtype(b):
            if not (a.astype(str).values == b.astype(str).values).all():
                return False
            continue
        if not np.allclose(a.astype(float), b.astype(float), rtol=1e-6,
                           atol=1e-9, equal_nan=True):
            return False
    return True


# ---------------------------------------------------------------------------
# lfq_pipeline: DuckDB replay
# ---------------------------------------------------------------------------

_ENTRY_SQL_HELPERS = ("_LANCZOS_SQL_COEF", "_gammaln_sql", "_betainc_chain_sql")


def load_betainc_chain_sql(repo_root: str):
    """``_betainc_chain_sql`` from ``__spark_entry__.py``, taken from
    its source with its two helpers — importing the module itself would
    also build every registered query and oracle."""
    path = os.path.join(repo_root, "__spark_entry__.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    keep = []
    for node in tree.body:
        names = []
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        if set(names) & set(_ENTRY_SQL_HELPERS):
            keep.append(node)
    ns: dict = {}
    exec(compile(ast.Module(keep, []), path, "exec"), ns)
    return ns["_betainc_chain_sql"]


def lfq_expected(sites: str, design: str, labels: list[str],
                 betainc_chain_sql) -> dict[str, pd.DataFrame]:
    """volcano / collapsed / correlation of ``pipelines.phospho_lfq``
    (groups Control vs PGE2, localization >= 0.75, min 3 valid)."""
    import duckdb

    melt = "\n  UNION ALL\n  ".join(
        f"SELECT id AS feature_id, '{lab}' AS sample_label, "
        f'CASE WHEN "Intensity {lab}" <> 0 '
        f'THEN CAST("Intensity {lab}" AS DOUBLE) END AS raw FROM wide'
        for lab in labels
    )
    log10_fdr = repr(math.log10(0.05))
    wide_sql = f"""
SELECT * FROM read_csv('{sites}', delim='\t', header=true)
WHERE (Reverse IS NULL OR Reverse NOT LIKE '%+%')
  AND ("Potential contaminant" IS NULL
       OR "Potential contaminant" NOT LIKE '%+%')
  AND "Localization prob" >= 0.75
"""
    prefix = f"""
WITH lng AS (
  {melt}
),
logd AS (
  SELECT feature_id, sample_label,
         CASE WHEN raw > 0 THEN log2(raw) END AS lv
  FROM lng
),
med AS (SELECT sample_label, median(lv) AS md FROM logd GROUP BY 1),
normd AS (
  SELECT l.feature_id, l.sample_label, l.lv - m.md AS value
  FROM logd l JOIN med m USING (sample_label)
),
designed0 AS (
  SELECT n.feature_id, n.sample_label, n.value, d."Group" AS grp,
         CAST(d.Replicate AS INTEGER) AS rep
  FROM normd n
  JOIN read_csv('{design}', header=true) d ON trim(n.sample_label) = d.Label
),
keep AS (
  SELECT feature_id FROM (
    SELECT feature_id, grp, count(value) AS c FROM designed0 GROUP BY 1, 2
  ) GROUP BY feature_id HAVING max(c) >= 3
),
designed AS (SELECT * FROM designed0 JOIN keep USING (feature_id))"""
    stats_sql = """
WITH g AS (
  SELECT feature_id,
    avg(CASE WHEN grp='Control' THEN value END)      AS mean_a,
    avg(CASE WHEN grp='PGE2' THEN value END)         AS mean_b,
    count(CASE WHEN grp='Control' THEN value END)    AS n_a,
    count(CASE WHEN grp='PGE2' THEN value END)       AS n_b,
    var_samp(CASE WHEN grp='Control' THEN value END) AS var_a,
    var_samp(CASE WHEN grp='PGE2' THEN value END)    AS var_b
  FROM designed GROUP BY 1
)
SELECT feature_id, n_a, n_b, mean_a, mean_b,
  CASE WHEN n_a >= 3 AND n_b >= 3 THEN
    CASE WHEN sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b)
                    / CAST(n_a + n_b - 2 AS DOUBLE))
                   * (1.0/n_a + 1.0/n_b)) > 0
         THEN (mean_a - mean_b)
              / sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b)
                      / CAST(n_a + n_b - 2 AS DOUBLE))
                     * (1.0/n_a + 1.0/n_b)) END
  END AS t_stat,
  CASE WHEN n_a >= 2 AND n_b >= 2
       THEN CAST(n_a + n_b - 2 AS DOUBLE) END AS df,
  CASE WHEN n_a >= 3 AND n_b >= 3 THEN mean_a - mean_b END AS fc
FROM g
"""
    # the recursive chain re-reads its input every iteration, so every
    # stage before it is materialized as a table first
    inp_sql = """
SELECT feature_id AS key,
  CAST(df / (df + t_stat * t_stat) AS DOUBLE) AS x,
  CAST(df / 2.0 AS DOUBLE) AS a, CAST(0.5 AS DOUBLE) AS b
FROM s WHERE t_stat IS NOT NULL AND df > 0
"""
    volcano_sql = f"""
WITH RECURSIVE {betainc_chain_sql()}
SELECT CAST(s.feature_id AS BIGINT) AS feature_id,
  CAST(s.n_a AS BIGINT) AS n_a, CAST(s.n_b AS BIGINT) AS n_b,
  s.mean_a, s.mean_b, s.t_stat, s.df, s.fc AS log2_fc, pv.p AS p_value,
  CASE WHEN s.fc IS NOT NULL AND pv.p IS NOT NULL AND abs(s.fc) > 0.0
            AND pv.p <= pow(10.0, -0.585 / abs(s.fc) + ({log10_fdr}))
       THEN 'up_or_down' ELSE 'ns' END AS _sig,
  s.fc AS _fc
FROM s LEFT JOIN pv ON s.feature_id = pv.key
"""
    collapsed_sql = """
SELECT CAST(feature_id AS BIGINT) AS feature_id, grp AS "Group",
       rep AS "Replicate", median(value) AS value
FROM designed GROUP BY ALL
"""
    correlation_sql = """
SELECT a.sample_label AS sample_x, b.sample_label AS sample_y,
       corr(a.value, b.value) AS pearson_r
FROM designed a JOIN designed b USING (feature_id) GROUP BY ALL
"""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP TABLE wide AS {wide_sql}")
        con.execute(f"CREATE TEMP TABLE designed AS {prefix}\n"
                    "SELECT * FROM designed")
        con.execute(f"CREATE TEMP TABLE s AS {stats_sql}")
        con.execute(f"CREATE TEMP TABLE inp AS {inp_sql}")
        measurements = con.execute(
            "SELECT CAST(feature_id AS BIGINT) AS feature_id, sample_label, "
            "value FROM designed"
        ).df()
        volcano = con.execute(volcano_sql).df()
        collapsed = con.execute(collapsed_sql).df()
        correlation = con.execute(correlation_sql).df()
    finally:
        con.close()
    volcano["direction"] = np.where(
        volcano["_sig"] == "ns", "ns",
        np.where(volcano["_fc"] > 0, "up", "down"),
    )
    volcano = volcano.drop(columns=["_sig", "_fc"])
    return {"volcano": volcano, "collapsed": collapsed,
            "correlation": correlation, "measurements": measurements}


def read_perseus_file(path: str) -> pd.DataFrame:
    """A Perseus TSV: header row, ``#!{Type}`` annotation row, data."""
    return pd.read_csv(path, sep="\t", skiprows=[1])


# ---------------------------------------------------------------------------
# lfq_pipeline: PCA in numpy
# ---------------------------------------------------------------------------


def pca_expected(imputed: pd.DataFrame, k: int = 2) -> dict:
    """PCA by numpy SVD with samples as observations, features
    mean-centred, missing cells as 0: explained-variance ratio,
    ``scores`` (samples x k, U S) and ``weights`` (features x k, the
    right singular vectors), with the sample and feature labels."""
    wide = imputed.pivot(index="feature_id", columns="sample_label",
                         values="value").fillna(0.0)
    x = wide.to_numpy()
    x = x - x.mean(axis=1, keepdims=True)
    # x = W S U^T: W (features) holds the loadings, U S the scores
    w, sing, ut = np.linalg.svd(x, full_matrices=False)
    ev = sing ** 2
    return {
        "evr": ev[:k] / ev.sum(),
        "samples": list(wide.columns),
        "scores": ut[:k].T * sing[:k],
        "features": list(wide.index),
        "weights": w[:, :k],
    }


def components_match(got: np.ndarray, want: np.ndarray) -> bool:
    """Column-wise equal up to the sign of each column (a principal
    component is defined only up to sign), to 1e-6 of the column's
    largest entry."""
    if got.shape != want.shape:
        return False
    for c in range(want.shape[1]):
        g, w = got[:, c], want[:, c]
        sign = -1.0 if float(g @ w) < 0 else 1.0
        scale = max(float(np.abs(w).max()), 1e-300)
        if not np.allclose(sign * g, w, rtol=0.0, atol=1e-6 * scale):
            return False
    return True


def long_to_matrix(df: pd.DataFrame, row: str, col: str, value: str,
                   rows: list, k: int) -> np.ndarray | None:
    """``rows x k`` matrix from a long ``(row, col = 1..k, value)`` frame,
    NaN where a cell is missing; None unless the frame has exactly one
    row per cell."""
    if len(df) != len(rows) * k or df.duplicated([row, col]).any():
        return None
    wide = df.pivot(index=row, columns=col, values=value)
    return wide.reindex(index=rows, columns=range(1, k + 1)).to_numpy(float)


# ---------------------------------------------------------------------------
# corpus_dedup: exact set similarity and neighbours
# ---------------------------------------------------------------------------


def shingle_sets(texts: list[str], k: int = 3) -> list[frozenset]:
    out = []
    for t in texts:
        w = t.split(" ")
        out.append(frozenset(
            " ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))
        ))
    return out


def overlapping_pairs(sets: list[frozenset], blocks=None) -> dict:
    """Exact Jaccard of every pair sharing at least one shingle (and
    the same block, when blocks are given): ``{(a, b): jaccard}``."""
    postings: dict = {}
    for doc, s in enumerate(sets):
        for sh in s:
            key = (blocks[doc], sh) if blocks is not None else sh
            postings.setdefault(key, []).append(doc)
    pairs = set()
    for docs in postings.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                pairs.add((a, b) if a < b else (b, a))
    return {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in pairs
    }


def components(n: int, pairs) -> np.ndarray:
    """Minimum member id of each node's connected component."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)])


def knn_expected(corpus: np.ndarray, queries: np.ndarray, k: int):
    """Exact cosine top-k per query, ties by corpus id:
    ``[(query, [ids], [sims])]``."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    out = []
    ids = np.arange(corpus.shape[0])
    for q in range(queries.shape[0]):
        order = np.lexsort((ids, -sims[q]))[:k]
        out.append((q, order, sims[q, order]))
    return out
