"""The benchmark's workloads: set-up, one closed-loop operation, and the
check of every operation's output against an independent reference.

An operation returns the number of items it processed, and raises
:class:`CheckFailed` when its output disagrees with the reference.
"""

from __future__ import annotations

import math
from contextlib import nullcontext


class CheckFailed(Exception):
    pass


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _close(a, b, rel=1e-9) -> bool:
    return a is not None and math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


class ProfileStream:
    """Micro-batches of ``events`` folded into one streaming profile.

    One operation: ``Data(batch)`` → ``StreamingProfiler.update`` → a
    ``to_json``/``from_json`` checkpoint of the state → ``build_report``
    → ``diff_profiles(baseline, state)`` against the state before the
    seeded value shift (from the second operation on)."""

    name = "profile_stream"

    def __init__(self, man: dict, tracer=None):
        self.batches = man["batches"]
        self.shift = man["shift_at_batch"]
        self.tracer = tracer
        self.diff_p: list[float] = []

    def setup(self, spark) -> None:
        self.spark = spark
        self.reset()

    def reset(self) -> None:
        """Start a new stream (the timed phase starts from batch 0)."""
        from dataprofiler_spark import StreamingProfiler

        self.sp = StreamingProfiler()
        self.seen: list[dict] = []
        self.baseline = None

    def op(self) -> int:
        from dataprofiler_spark import Data, build_report, diff_profiles
        from dataprofiler_spark.state import from_json, to_json

        k = len(self.seen)
        if k == len(self.batches):
            self.reset()
            k = 0
        b = self.batches[k]
        with _span(self.tracer, "data.load"):
            d = Data(b["path"], spark=self.spark)
        with _span(self.tracer, "incremental.update"):
            self.sp.update(d.df)
        with _span(self.tracer, "state.json") as s:
            js = to_json(self.sp.state)
            self.sp.state = from_json(js)
            if s is not None:
                s.attrs["bytes"] = len(js)
        with _span(self.tracer, "report.build"):
            report = build_report(self.sp.state)
        self.seen.append(b)
        diff = None
        if k + 1 == self.shift:
            self.baseline = from_json(js)
        elif k >= self.shift:
            with _span(self.tracer, "report.diff"):
                diff = diff_profiles(self.baseline, self.sp.state)
        self._check(report, diff)
        return b["rows"]

    def _expected(self, batches) -> dict:
        exp: dict = {}
        for b in batches:
            for c, st in b["stats"].items():
                e = exp.setdefault(c, {"rows": 0, "nulls": 0, "sum": 0.0,
                                       "min": math.inf, "max": -math.inf})
                e["rows"] += st["rows"]
                e["nulls"] += st["nulls"]
                if "sum" in st:
                    e["sum"] += st["sum"]
                    e["min"] = min(e["min"], st["min"])
                    e["max"] = max(e["max"], st["max"])
        return exp

    def _check(self, report: dict, diff: dict | None) -> None:
        state = self.sp.state
        exp = self._expected(self.seen)
        rows = sum(b["rows"] for b in self.seen)
        if state.row_count != rows or \
                report["global_stats"]["row_count"] != rows:
            raise CheckFailed(f"row_count {state.row_count} != {rows}")
        for c, e in exp.items():
            col = state.columns[c]
            if col.sample_size != e["rows"] or col.null_count != e["nulls"]:
                raise CheckFailed(
                    f"{c}: rows/nulls {col.sample_size}/{col.null_count} "
                    f"!= {e['rows']}/{e['nulls']}")
            if math.isfinite(e["min"]):
                ns = col.numeric
                n = e["rows"] - e["nulls"]
                if ns is None or ns.min != e["min"] or ns.max != e["max"] \
                        or not _close(ns.mean, e["sum"] / n):
                    raise CheckFailed(f"{c}: numeric stats differ")
        if diff is not None:
            d = next(d for d in diff["data_stats"]
                     if d["column_name"] == "value")
            base = self._expected(self.seen[:self.shift])["value"]
            now = exp["value"]
            want = (base["sum"] / (base["rows"] - base["nulls"])
                    - now["sum"] / (now["rows"] - now["nulls"]))
            if not _close(d["statistics"]["mean"], want, 1e-6):
                raise CheckFailed("diff_profiles: value mean difference "
                                  f"{d['statistics']['mean']} != {want}")
            # the seeded shift must show as significant drift
            p = (d.get("t-test") or {}).get("p-value")
            if p is None or p > 1e-3:
                raise CheckFailed(f"value drift not detected (p={p})")
            self.diff_p.append(p)

    def finish(self) -> list[str]:
        """Merge invariance: the folded stream state equals a one-shot
        profile of all the batches it saw."""
        from dataprofiler_spark import Profiler

        if not self.seen:
            return []
        one = Profiler(self.spark.read.parquet(
            *[b["path"] for b in self.seen])).profile()
        st = self.sp.state
        errors = []
        if one.row_count != st.row_count:
            errors.append("merge invariance: row_count")
        for c in st.column_order:
            a, b = st.columns[c], one.columns[c]
            if a.null_count != b.null_count:
                errors.append(f"merge invariance: {c} null_count")
            if a.numeric and a.numeric.n:
                if (a.numeric.min, a.numeric.max) != (b.numeric.min,
                                                      b.numeric.max) \
                        or not _close(a.numeric.mean, b.numeric.mean):
                    errors.append(f"merge invariance: {c} numeric stats")
            if a.categorical and a.categorical.active and \
                    b.categorical and b.categorical.active and \
                    a.categorical.categories != b.categorical.categories:
                errors.append(f"merge invariance: {c} categories")
        return errors

    def summary(self) -> dict:
        return {"drift_p_max": max(self.diff_p, default=None),
                "diffs": len(self.diff_p)}


class AnnQuery:
    """ANN serving over a persisted IVF-PQ index.

    Set-up (each round): ``ivf_build`` over the embedding table, with
    the serving configuration of the repository's ``bench.py``. One
    operation: one ``ivf_query_adc`` call with a seeded query vector.
    Its result must equal a NumPy replay of the documented ADC ranking
    over the stored index, and recall@k against the exact cosine top-k
    is kept per query. The traced run's set-up also runs the corpus
    side of the pipeline, and traces its second pass:
    ``curate_corpus(docs).count()`` and
    ``DataLabeler("unstructured").predict(docs)``, both checked against
    the DuckDB oracle."""

    name = "ann_query"
    # bench.py's ``ivf_query_adc_embeddings`` serving configuration
    INDEX = dict(n_centroids=8, pq_m=4, pq_codes=16, fit_fraction=0.2)
    NPROBE = 2
    # recall@k is the mean over these first queries, so it is fixed per
    # seed; queries the timed loop did not reach run after it
    RECALL_QUERIES = 32
    # below this recall@k a run has traded too much recall for speed.
    # Over 30 seeds recall@k read 0.0375-0.0875 (median 0.066, standard
    # deviation 0.011); chance is k / rows = 0.005. The floor sits about
    # four deviations under the median so that no seed fails by chance.
    RECALL_FLOOR = 0.02

    def __init__(self, man: dict, tracer=None):
        self.docs_man = man["documents"]
        self.ann = man["ann"]
        self.tracer = tracer
        # returned ids per query; kept across set-up rounds, whose
        # index builds are deterministic
        self.results: dict[int, list[int]] = {}
        self.keep_ratio = None
        self.n_ops = 0

    def setup(self, spark) -> None:
        import os

        from dataprofiler_spark.operators.ann_index import ivf_build

        self.spark = spark
        with _span(self.tracer, "data.load"):
            vecs = spark.read.parquet(self.ann["path"])
        self.index = os.path.join(os.path.dirname(self.ann["path"]), "index")
        with _span(self.tracer, "ann_index.build"):
            ivf_build(vecs, "vec_id", "embedding", self.index, **self.INDEX)
        self._load_index()
        if self.tracer is not None:
            # the first pass warms the JVM's code caches; the traced
            # figures come from the second
            tracer, self.tracer = self.tracer, None
            self._corpus_pass()
            self.tracer = tracer
            self._corpus_pass()

    def _load_index(self) -> None:
        """The stored centroids, PQ codebooks and codes, read with
        pyarrow for the NumPy replay of each query."""
        import json
        import os

        import numpy as np
        import pyarrow.parquet as pq

        cent = pq.read_table(os.path.join(self.index, "centroids"))
        self.centroids = sorted(zip(cent.column("centroid").to_pylist(),
                                    cent.column("center").to_pylist()))
        with open(os.path.join(self.index, "_pq_codebooks.json")) as f:
            self.books = json.load(f)
        m = len(self.books)
        vecs = pq.read_table(os.path.join(self.index, "vectors"),
                             columns=["id", "centroid"]
                             + [f"code{j}" for j in range(m)])
        self.ids = vecs.column("id").to_numpy()
        self.cells = np.array(vecs.column("centroid").to_pylist())
        self.codes = np.stack([vecs.column(f"code{j}").to_numpy()
                               for j in range(m)])

    def _expected(self, qv: list[float]) -> list[tuple[int, int]]:
        """Top-k (d6, id) by ivf_query_adc's documented semantics: probe
        the nprobe nearest cells (ties to the lowest centroid), score
        each candidate by its ADC table lookups in 1e6 fixed point,
        rank by (d6, id). Distances are summed in the same order as the
        program, so the fixed-point values are identical."""
        import numpy as np

        def sq(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        probe = [c for _, c in sorted((sq(qv, v), c)
                                      for c, v in self.centroids)]
        probe = probe[:self.NPROBE]
        sub = len(qv) // len(self.books)
        d6 = np.zeros(len(self.ids), dtype=np.int64)
        for j, book in enumerate(self.books):
            t = np.array([int(round(sq(qv[j * sub:(j + 1) * sub], code)
                                    * 1_000_000)) for code in book],
                         dtype=np.int64)
            d6 += t[self.codes[j]]
        sel = np.isin(self.cells, probe)
        order = np.lexsort((self.ids[sel], d6[sel]))[:self.ann["k"]]
        return [(int(d6[sel][o]), int(self.ids[sel][o])) for o in order]

    def _corpus_pass(self) -> None:
        from dataprofiler_spark import DataLabeler
        from dataprofiler_spark.operators.pipeline import curate_corpus

        docs = self.spark.read.parquet(self.docs_man["path"])
        with _span(self.tracer, "pipeline.curate"):
            n_out = curate_corpus(docs, "doc_id", "text").count()
        with _span(self.tracer, "labeler.predict"):
            labels = DataLabeler("unstructured").predict(
                docs, text_col="text").collect()
        oracle = self.docs_man["oracle"]
        if n_out != oracle["n_docs_out"]:
            raise CheckFailed(
                f"curate_corpus kept {n_out}, oracle {oracle['n_docs_out']}")
        self.keep_ratio = n_out / oracle["n_docs_in"]
        got = {r["label"]: r["entity_count"] for r in labels}
        if got != oracle["entity_counts"]:
            raise CheckFailed(f"entity counts {got} != oracle")

    def reset(self) -> None:
        self.n_ops = 0

    def op(self) -> int:
        self._query(self.n_ops % self.RECALL_QUERIES)
        self.n_ops += 1
        return 1

    def _query(self, qi: int) -> None:
        from dataprofiler_spark.operators.ann_index import ivf_query_adc

        qv = self.ann["queries"][qi]
        with _span(self.tracer, "ann_index.query"):
            rows = ivf_query_adc(self.spark, self.index, qv,
                                 k=self.ann["k"],
                                 nprobe=self.NPROBE).collect()
        want = self._expected(qv)
        got = [(r["rank"], r["vec_id"]) for r in rows]
        if got != [(n + 1, i) for n, (_, i) in enumerate(want)] or \
                not all(_close(r["approx_d"], d6 / 1_000_000)
                        for r, (d6, _) in zip(rows, want)):
            raise CheckFailed(f"query {qi}: top-{self.ann['k']} {got} "
                              f"!= ADC replay {want}")
        self.results[qi] = [i for _, i in got]

    def recall(self) -> float | None:
        if len(self.results) < self.RECALL_QUERIES:
            return None
        k = self.ann["k"]
        return sum(len(set(self.results[q]) & set(self.ann["exact_top_k"][q]))
                   for q in range(self.RECALL_QUERIES)) / (
                       k * self.RECALL_QUERIES)

    def finish(self) -> list[str]:
        """Run the recall queries the timed loop did not reach, then
        hold recall@k to its floor."""
        errors = []
        for qi in range(self.RECALL_QUERIES):
            if qi not in self.results:
                try:
                    self._query(qi)
                except CheckFailed as e:
                    errors.append(str(e))
        r = self.recall()
        if r is not None and r < self.RECALL_FLOOR:
            errors.append(f"recall@{self.ann['k']} {r:.4f} "
                          f"< {self.RECALL_FLOOR}")
        return errors

    def summary(self) -> dict:
        return {"recall_at_10": self.recall(), "keep_ratio": self.keep_ratio}


WORKLOADS = {w.name: w for w in (ProfileStream, AnnQuery)}
