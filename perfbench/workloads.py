"""The three workloads: inputs, the timed unit of work, its check, and its
traced twin.

A workload's *unit* is what one end-to-end sample times:

* ``coo_batch``: one batch iteration -- clear the cache, refit from the
  parquet input, then sparse ``all_similarity()``, dense ``top_k(5)`` and
  dense ``predict_missing(3)``, each collected;
* ``doc_dedup``: one pass of the curation-then-similarity pipeline;
* ``model_lookup``: one point read against a fitted, persisted model.

The traced twin runs the same calls, and before each one it materializes
the cumulative prefix of the plan (a ``noop`` write, which keeps the plan
as it is; no checkpoint), so that a layer's self time is the difference of
two prefix times. Persisted intermediates (the analyser's normalized
table, ``top_k``'s similarity cache) are filled by the first prefix that
reaches them and read afterwards, as in the untraced unit.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

from casf_spark import CosineAnalyser
from casf_spark.functions.text import term_counts
from casf_spark.operators.dedup import minhash_lsh_pairs
from casf_spark.operators.pipeline import curate_documents

import gen
import oracle
from engine import COUNTERS

#: dedup threshold on the term-count cosine of a candidate pair
DEDUP_T = 0.8
TOP_K = 5
PREDICT_K = 3


def noop(df) -> None:
    """Run ``df``'s whole plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def add_counters(total: dict, c: dict) -> None:
    for k in COUNTERS:
        if k == "codegen.max_method_bytes":
            total[k] = max(total.get(k, 0.0), c[k])
        else:
            total[k] = total.get(k, 0.0) + c[k]


class Workload:
    """Subclasses fill in inputs, the unit and its traced twin."""

    name = ""
    warm_units = 2

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.shape: dict = {}

    def prepare(self) -> None:
        """Generate and write the inputs (repeated during set-up)."""

    def build_oracle(self) -> None:
        """Reference results for the checks (not part of set-up time)."""

    def setup_engine(self, trace=None) -> None:
        """Engine-side set-up (repeated during set-up)."""

    def unit(self, i: int) -> dict:
        """Run unit ``i``; return its collected outputs."""
        raise NotImplementedError

    def check(self, out: dict) -> tuple[int, int]:
        """(operations attempted, operations wrong) for one unit."""
        raise NotImplementedError

    def traced_unit(self, i: int, tr, probe) -> tuple[dict, dict]:
        """(outputs, per-layer values) of unit ``i`` run with spans."""
        raise NotImplementedError

    def finish(self) -> None:
        """Release engine state."""


# ---------------------------------------------------------------------- #


class CooBatch(Workload):
    name = "coo_batch"
    #: unit times fall over the first six units, while the JIT compiles the
    #: hot and generated code, and then hold within about 10%
    warm_units = 6

    def prepare(self) -> None:
        self.coo, self.shape = gen.coo_matrix(self.seed)
        self.path = str(self.work / "coo.parquet")
        gen.write_parquet(self.coo, self.path)

    def build_oracle(self) -> None:
        self.ref = oracle.MatrixOracle(self.coo)

    def unit(self, i: int) -> dict:
        self.spark.catalog.clearCache()
        m = self.spark.read.parquet(self.path)
        t0 = time.perf_counter()
        sparse = CosineAnalyser().fit(m)
        allp = sparse.all_similarity().toPandas()
        t1 = time.perf_counter()
        dense = CosineAnalyser().fit(m, is_sparse=False)
        topk = dense.top_k(TOP_K).toPandas()
        t2 = time.perf_counter()
        pred = dense.predict_missing(PREDICT_K).toPandas()
        t3 = time.perf_counter()
        sparse.unpersist()
        dense.unpersist()
        return {"allpairs": allp, "topk": topk, "predict": pred,
                "times": {"allpairs_s": t1 - t0, "topk_s": t2 - t1,
                          "predict_s": t3 - t2}}

    def check(self, out: dict) -> tuple[int, int]:
        bad = [self.ref.check_all_similarity(out["allpairs"]),
               self.ref.check_top_k(out["topk"], TOP_K),
               self.ref.check_predict_missing(out["predict"], PREDICT_K)]
        return 3, sum(b > 0 for b in bad)

    def traced_unit(self, i: int, tr, probe) -> tuple[dict, dict]:
        spark = self.spark
        spark.catalog.clearCache()
        lay: dict = {}
        eng: dict = {}
        with tr.span("coo_batch.iteration", i) as it:
            par = it["id"]
            m = spark.read.parquet(self.path)
            c: dict = {}
            with tr.span("sources.scan", i, par) as s, probe.op(c):
                noop(m)
            scan = dur(s)
            lay["sources.scan_s"] = scan
            lay["sources.rows"] = c["scan_rows"]
            lay["sources.scan_tasks"] = c["spark.tasks"]
            sparse = CosineAnalyser().fit(m)
            with tr.span("analyse.normalized", i, par) as s:
                noop(sparse.normalized)
            lay["analyse.normalize_s"] = dur(s) - scan
            with tr.span("analyse.factor_pairs", i, par) as s:
                noop(sparse.factor_pairs)
            lay["analyse.pairs_s"] = pairs = dur(s)
            with tr.span("model.all_similarity", i, par) as s, probe.op(c):
                allp = sparse.all_similarity().toPandas()
            add_counters(eng, c)
            lay["model.allpairs_self_s"] = dur(s) - pairs
            dense = CosineAnalyser().fit(m, is_sparse=False)
            with tr.span("model.dense_similarity", i, par) as s:
                noop(dense.all_similarity())
            sims = dur(s)
            with tr.span("model.top_k", i, par) as s, probe.op(c):
                topk = dense.top_k(TOP_K).toPandas()
            add_counters(eng, c)
            lay["model.topk_self_s"] = dur(s) - sims
            with tr.span("model.top_k_prefix", i, par) as s:
                noop(dense.top_k(PREDICT_K))
            prefix = dur(s)
            with tr.span("model.predict_missing", i, par) as s, probe.op(c):
                pred = dense.predict_missing(PREDICT_K).toPandas()
            add_counters(eng, c)
            lay["model.predict_self_s"] = dur(s) - prefix
        if not hasattr(self, "aligned"):  # same input every unit: count once
            self.nnz = sparse.normalized.count()
            self.aligned = sparse.factor_pairs.count()
        sparse.unpersist()
        dense.unpersist()
        lay.update(eng)
        lay["analyse.nnz"] = self.nnz
        lay["analyse.aligned_pairs"] = self.aligned
        lay["analyse.pair_expansion"] = self.aligned / self.nnz
        lay["model.out_pairs"] = len(allp)
        lay["model.pair_yield"] = len(allp) / self.aligned
        lay["model.predicted_cells"] = len(pred)
        it["attrs"].update(lay)
        return {"allpairs": allp, "topk": topk, "predict": pred}, lay


# ---------------------------------------------------------------------- #


class DocDedup(Workload):
    name = "doc_dedup"
    #: unit times fall over the first six units, while the JIT compiles the
    #: hot and generated code, and then hold within about 10%
    warm_units = 6

    def prepare(self) -> None:
        self.docs, info = gen.documents(self.seed)
        self.shape, self.planted = info["shape"], info["planted"]
        self.path = str(self.work / "docs.parquet")
        gen.write_parquet(self.docs, self.path)

    def build_oracle(self) -> None:
        self.kept = oracle.curated(self.docs)
        self.vectors = oracle.term_vectors(self.docs)
        self.targets = oracle.planted_targets(self.planted, self.vectors,
                                              self.kept, DEDUP_T)

    def _plan(self):
        """The pipeline's frames: input, curated manifest, candidate pairs,
        term counts."""
        docs = self.spark.read.parquet(self.path)
        cur = curate_documents(docs)
        surv = docs.join(cur.select("doc_id"), "doc_id", "left_semi")
        cand = minhash_lsh_pairs(surv, "doc_id", "text").select(
            F.col("doc0").cast("string").alias("vector0"),
            F.col("doc1").cast("string").alias("vector1"))
        return docs, cur, cand, term_counts(surv, "doc_id", "text")

    @staticmethod
    def _score(model, cand):
        return model.similarity_for_pairs(cand).where(
            F.col("similarity_value") >= DEDUP_T)

    def unit(self, i: int) -> dict:
        _, cur, cand, tc = self._plan()
        manifest = cur.toPandas()
        model = CosineAnalyser().fit(tc, pre_aggregated=True)
        pairs = self._score(model, cand).toPandas()
        model.unpersist()
        return {"manifest": manifest, "pairs": pairs}

    def check(self, out: dict) -> tuple[int, int]:
        bad = [oracle.check_curated(out["manifest"], self.kept),
               oracle.check_scored_pairs(out["pairs"], self.vectors,
                                         self.kept, DEDUP_T, self.targets)]
        return 2, sum(b > 0 for b in bad)

    def traced_unit(self, i: int, tr, probe) -> tuple[dict, dict]:
        lay: dict = {}
        eng: dict = {}
        c: dict = {}
        with tr.span("doc_dedup.pipeline", i) as pl:
            par = pl["id"]
            docs, cur, cand, tc = self._plan()
            with tr.span("sources.scan", i, par) as s, probe.op(c):
                noop(docs)
            scan = dur(s)
            lay["sources.scan_s"] = scan
            lay["sources.rows"] = c["scan_rows"]
            lay["sources.scan_tasks"] = c["spark.tasks"]
            with tr.span("pipeline.curate_documents", i, par) as s, \
                    probe.op(c):
                manifest = cur.toPandas()
            add_counters(eng, c)
            curate = dur(s)
            lay["pipeline.curate_s"] = curate - scan
            with tr.span("dedup.minhash_lsh_pairs", i, par) as s:
                noop(cand)
            lsh = dur(s)
            lay["dedup.lsh_s"] = lsh - curate
            with tr.span("text.term_counts", i, par) as s:
                noop(tc)
            counted = dur(s)
            lay["text.term_counts_s"] = counted - curate
            model = CosineAnalyser().fit(tc, pre_aggregated=True)
            with tr.span("analyse.normalized", i, par) as s:
                noop(model.normalized)
            lay["analyse.normalize_s"] = dur(s) - counted
            with tr.span("model.similarity_for_pairs", i, par) as s, \
                    probe.op(c):
                pairs = self._score(model, cand).toPandas()
            add_counters(eng, c)
            lay["model.score_self_s"] = dur(s) - lsh
        if not hasattr(self, "candidates"):  # same input every unit
            self.candidates = cand.count()
            row = tc.agg(F.count(F.lit(1)).alias("nnz"),
                         F.sum("value").alias("tokens")).first()
            self.nnz, self.tokens = row.nnz, row.tokens
        model.unpersist()
        found = set(zip(pairs["vector0"], pairs["vector1"]))
        lay.update(eng)
        lay["pipeline.kept_ratio"] = len(manifest) / len(self.docs)
        lay["dedup.candidates"] = self.candidates
        lay["dedup.cand_yield"] = len(pairs) / max(self.candidates, 1)
        lay["dedup.planted_recall"] = (
            len(self.targets & found) / max(len(self.targets), 1))
        lay["text.tokens"] = self.tokens
        lay["text.nnz"] = self.nnz
        lay["analyse.nnz"] = self.nnz
        pl["attrs"].update(lay)
        return {"manifest": manifest, "pairs": pairs}, lay


# ---------------------------------------------------------------------- #


class ModelLookup(Workload):
    name = "model_lookup"
    warm_units = 30
    #: distinct requests in the seeded stream; the loop cycles through it
    STREAM = 2000

    def prepare(self) -> None:
        self.coo, self.shape = gen.coo_matrix(self.seed)
        self.path = str(self.work / "coo.parquet")
        gen.write_parquet(self.coo, self.path)
        self.stream = gen.lookup_stream(self.seed, self.shape["vectors"],
                                        self.STREAM)

    def build_oracle(self) -> None:
        self.ref = oracle.MatrixOracle(self.coo)

    def setup_engine(self, trace=None) -> None:
        """Fit the model once and persist its normalized table."""
        self.finish()
        m = self.spark.read.parquet(self.path)
        if trace is None:
            self.model = CosineAnalyser().fit(m)
            self.model.normalized.count()
            return
        tr, probe, lay = trace
        c: dict = {}
        with tr.span("model_lookup.setup", -1) as st:
            with tr.span("sources.scan", -1, st["id"]) as s, probe.op(c):
                noop(m)
            lay["sources.scan_s"] = dur(s)
            lay["sources.rows"] = c["scan_rows"]
            lay["sources.scan_tasks"] = c["spark.tasks"]
            self.model = CosineAnalyser().fit(m)
            with tr.span("analyse.normalized", -1, st["id"]) as s:
                lay["analyse.nnz"] = self.model.normalized.count()
            lay["analyse.normalize_s"] = dur(s) - lay["sources.scan_s"]

    def _request(self, i: int) -> tuple[str, list]:
        return self.stream[i % len(self.stream)]

    def _call(self, kind: str, arg: list):
        if kind == "ids":
            return self.model.similarity(arg)
        pairs = self.spark.createDataFrame(arg, "vector0 string, vector1 string")
        return self.model.similarity_for_pairs(pairs)

    def unit(self, i: int) -> dict:
        kind, arg = self._request(i)
        return {"kind": kind, "arg": arg,
                "rows": self._call(kind, arg).toPandas()}

    def check(self, out: dict) -> tuple[int, int]:
        if out["kind"] == "ids":
            bad = self.ref.check_similarity(out["rows"], out["arg"])
        else:
            bad = self.ref.check_pairs(out["rows"], out["arg"])
        return 1, int(bad > 0)

    def traced_unit(self, i: int, tr, probe) -> tuple[dict, dict]:
        kind, arg = self._request(i)
        c: dict = {}
        with tr.span("model_lookup.lookup", i, kind=kind) as lk:
            par = lk["id"]
            if kind == "ids":
                fp = self.model.factor_pairs.where(
                    F.col("vector0").isin(arg) & F.col("vector1").isin(arg))
            else:
                fp = self.spark.createDataFrame(
                    arg, "vector0 string, vector1 string")
            with tr.span("analyse.factor_pairs", i, par) as s:
                noop(fp)
            prefix = dur(s)
            with tr.span(f"model.{kind}", i, par) as s, probe.op(c):
                rows = self._call(kind, arg).toPandas()
        lay = dict(c)
        del lay["scan_rows"]
        lay["model.lookup_self_ms"] = (dur(s) - prefix) * 1000
        if kind == "ids":
            lay["analyse.pairs_s"] = prefix
        lk["attrs"].update(lay)
        return {"kind": kind, "arg": arg, "rows": rows}, lay

    def finish(self) -> None:
        model = getattr(self, "model", None)
        if model is not None:
            model.unpersist()
            self.model = None


WORKLOADS = {w.name: w for w in (CooBatch, DocDedup, ModelLookup)}


def median_layers(samples: list[dict]) -> dict:
    """Per-key median over the traced units that reported the key."""
    keys = {k for s in samples for k in s}
    return {k: statistics.median(s[k] for s in samples if k in s)
            for k in keys}

