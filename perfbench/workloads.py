"""The benchmark workloads.

Each workload writes its seeded inputs (:meth:`prepare`), makes its
public ``padua_spark`` calls (:meth:`calls`), forces every output
(:meth:`materialize`) and checks the forced results against an
independent reference (:meth:`check`). All calls go through module
attributes so that :func:`spans.instrument` can wrap them.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
import oracles
from padua_spark import io_utils, pipelines
from padua_spark.benchdata import _LABELS as LFQ_LABELS
from padua_spark.extensions import dedup, graph, similarity
from padua_spark.operators import imputation, ml
from padua_spark.sources import perseus


def _free(*frames) -> None:
    for df in frames:
        io_utils.unpersist_intermediates(df)


class LfqPipeline:
    """Entry point A (``pipelines.phospho_lfq``) over a MaxQuant TSV,
    forcing volcano (written as Perseus TSV), collapsed and correlation,
    then the next steps of the reference workflow on its normalized
    table: downshifted-normal imputation and PCA."""

    name = "lfq_pipeline"
    n_features = 1500
    n_components = 2
    outputs = ("volcano", "collapsed", "correlation", "pca_scores",
               "pca_weights", "pca_evr")

    def prepare(self, work_dir: str, seed: int) -> dict:
        return gen.write_lfq_inputs(work_dir, self.n_features, seed)

    def input_bytes(self, inp: dict) -> int:
        return os.path.getsize(inp["sites"]) + os.path.getsize(inp["design"])

    def calls(self, spark, inp: dict, run_dir: str) -> dict:
        out = pipelines.phospho_lfq(
            spark, inp["sites"], inp["design"], "Control", "PGE2"
        )
        path = os.path.join(run_dir, "volcano.txt")
        perseus.write_perseus(out["volcano"], path)
        imputed = imputation.impute_gaussian(
            out["measurements"], ["sample_label"], "value",
            F.xxhash64("feature_id", "sample_label"),
        )
        scores, weights, evr = ml.pca(
            imputed, ["feature_id"], "sample_label", "value",
            n_components=self.n_components,
        )
        return {"volcano_path": path, "collapsed": out["collapsed"],
                "correlation": out["correlation"], "imputed": imputed,
                "pca_scores": scores, "pca_weights": weights, "pca_evr": evr}

    def materialize(self, out: dict) -> dict:
        res = {k: out[k].toPandas() for k in
               ("collapsed", "correlation", "pca_scores", "pca_weights")}
        res["volcano"] = out["volcano_path"]
        res["pca_evr"] = np.asarray(out["pca_evr"])
        return res

    def release(self, out: dict) -> None:
        _free(out["pca_scores"], out["pca_weights"])

    def reference(self, inp: dict, outputs: dict, repo_root: str) -> dict:
        chain = oracles.load_betainc_chain_sql(repo_root)
        ref = oracles.lfq_expected(
            inp["sites"], inp["design"], LFQ_LABELS, chain
        )
        # imputation leaves observed cells alone and fills every gap
        imputed = outputs["imputed"].toPandas()
        merged = ref["measurements"].merge(
            imputed, on=["feature_id", "sample_label"], suffixes=("_in", "")
        )
        observed = merged["value_in"].notna()
        ref["imputed_ok"] = bool(
            len(merged) == len(ref["measurements"]) == len(imputed)
            and merged["value"].notna().all()
            and np.allclose(merged.loc[observed, "value"],
                            merged.loc[observed, "value_in"], rtol=1e-9)
            and (merged["imputed"] == ~observed).all()
        )
        ref["pca"] = oracles.pca_expected(imputed, self.n_components)
        return ref

    def check(self, res: dict, ref: dict) -> dict[str, bool]:
        volcano = oracles.read_perseus_file(res["volcano"])
        pca = ref["pca"]
        cols = ["feature_id", "n_a", "n_b", "mean_a", "mean_b", "t_stat",
                "df", "log2_fc", "p_value", "direction"]
        return {
            "volcano": oracles.frames_match(
                volcano[cols], ref["volcano"][cols], ["feature_id"]
            ),
            "collapsed": oracles.frames_match(
                res["collapsed"], ref["collapsed"],
                ["feature_id", "Group", "Replicate"],
            ),
            "correlation": oracles.frames_match(
                res["correlation"], ref["correlation"],
                ["sample_x", "sample_y"],
            ),
            "pca_scores": self._components_match(
                res["pca_scores"], "sample_label", "score", pca["samples"],
                pca["scores"],
            ),
            "pca_weights": self._components_match(
                res["pca_weights"], "feature_id", "weight", pca["features"],
                pca["weights"],
            ),
            "pca_evr": bool(ref["imputed_ok"] and np.allclose(
                res["pca_evr"], pca["evr"], rtol=1e-7
            )),
        }

    def _components_match(self, df: pd.DataFrame, row: str, value: str,
                          rows: list, want: np.ndarray) -> bool:
        got = oracles.long_to_matrix(df, row, "pc", value, rows,
                                     self.n_components)
        return got is not None and oracles.components_match(got, want)


class CorpusDedup:
    """MinHash-LSH candidates, duplicate clusters, blocked n-gram
    Jaccard, PPJoin exact similarity join and an embedding kNN join."""

    name = "corpus_dedup"
    n_docs = 1000
    n_queries = 50
    knn_k = 10
    threshold = 0.5
    outputs = ("candidates", "clusters", "ngram_pairs", "ppjoin_pairs", "knn")

    def prepare(self, work_dir: str, seed: int) -> dict:
        return gen.write_corpus_inputs(
            work_dir, self.n_docs, self.n_queries, seed
        )

    def input_bytes(self, inp: dict) -> int:
        return sum(os.path.getsize(inp[k])
                   for k in ("docs", "embeddings", "queries"))

    def calls(self, spark, inp: dict, run_dir: str) -> dict:
        docs = spark.read.parquet(inp["docs"])
        emb = spark.read.parquet(inp["embeddings"])
        queries = spark.read.parquet(inp["queries"])
        cand = dedup.minhash_lsh_candidates(docs, "doc_id", "text")
        clusters = graph.cluster_assignments(
            docs.select("doc_id"), "doc_id", cand
        )
        ngram = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", ["block"])
        pp = dedup.ppjoin_pairs(docs, "doc_id", "text", self.threshold)
        knn = similarity.knn_join(
            emb, "doc_id", "vec", queries, "query_id", "vec", k=self.knn_k
        )
        return {"candidates": cand, "clusters": clusters,
                "ngram_pairs": ngram, "ppjoin_pairs": pp, "knn": knn}

    def materialize(self, out: dict) -> dict:
        return {k: out[k].toPandas() for k in self.outputs}

    def release(self, out: dict) -> None:
        _free(out["candidates"], out["ngram_pairs"], out["ppjoin_pairs"])

    def reference(self, inp: dict, outputs: dict, repo_root: str) -> dict:
        docs = pd.read_parquet(inp["docs"]).sort_values("doc_id")
        sets = oracles.shingle_sets(docs["text"].tolist())
        emb = pd.read_parquet(inp["embeddings"]).sort_values("doc_id")
        qs = pd.read_parquet(inp["queries"]).sort_values("query_id")
        return {
            "planted": set(map(tuple, inp["planted"])),
            "n_docs": len(docs),
            "block_pairs": oracles.overlapping_pairs(
                sets, docs["block"].tolist()
            ),
            "all_pairs": oracles.overlapping_pairs(sets),
            "knn": oracles.knn_expected(
                np.stack(emb["vec"].to_numpy()),
                np.stack(qs["vec"].to_numpy()), self.knn_k,
            ),
            "digests": {},
        }

    @staticmethod
    def _pairs(df: pd.DataFrame) -> dict:
        return {(int(a), int(b)): j for a, b, j in
                df.iloc[:, :3].itertuples(index=False)}

    @staticmethod
    def _pairs_match(got: dict, want: dict) -> bool:
        return got.keys() == want.keys() and all(
            abs(got[k] - want[k]) <= 0.02 for k in want
        )

    def candidate_recall(self, res: dict, ref: dict) -> float:
        cand = set(zip(res["candidates"]["id_a"], res["candidates"]["id_b"]))
        return len(ref["planted"] & cand) / len(ref["planted"])

    def candidate_precision(self, res: dict) -> float:
        cand = set(zip(res["candidates"]["id_a"], res["candidates"]["id_b"]))
        exact = set(zip(res["ppjoin_pairs"]["id_a"],
                        res["ppjoin_pairs"]["id_b"]))
        return len(cand & exact) / len(cand) if cand else 1.0

    def check(self, res: dict, ref: dict) -> dict[str, bool]:
        ok = {}
        cand = res["candidates"]
        ok["candidates"] = (
            self.candidate_recall(res, ref) >= 0.9
            and cand["est_jaccard"].between(0, 1).all()
        )
        comp = oracles.components(
            ref["n_docs"], zip(cand["id_a"], cand["id_b"])
        )
        cl = res["clusters"].sort_values("doc_id")
        ok["clusters"] = (
            len(cl) == ref["n_docs"]
            and np.array_equal(cl["cluster_id"].to_numpy(), comp)
        )
        ng = res["ngram_pairs"][["id_a", "id_b", "jaccard"]]
        ok["ngram_pairs"] = self._pairs_match(
            self._pairs(ng), ref["block_pairs"]
        ) and ref["planted"] <= set(self._pairs(ng))
        want = {k: j for k, j in ref["all_pairs"].items()
                if j >= self.threshold}
        ok["ppjoin_pairs"] = self._pairs_match(
            self._pairs(res["ppjoin_pairs"]), want
        )
        knn = res["knn"].sort_values(["query_id", "cosine_sim", "doc_id"],
                                     ascending=[True, False, True])
        ok["knn"] = len(knn) == len(ref["knn"]) * self.knn_k and all(
            np.array_equal(g["doc_id"].to_numpy(), ref["knn"][q][1])
            and np.allclose(g["cosine_sim"].to_numpy(), ref["knn"][q][2],
                            rtol=1e-9)
            for q, g in knn.groupby("query_id")
        )
        # every run must reproduce the first run's outputs exactly
        for name in self.outputs:
            d = oracles.digest(res[name])
            first = ref["digests"].setdefault(name, d)
            ok[name] = bool(ok[name] and d == first)
        return ok


WORKLOADS = {w.name: w for w in (LfqPipeline(), CorpusDedup())}
