"""The benchmark workloads.

Each workload is a closed loop with one client: the next operation is
sent when the previous one has returned. A workload has four parts:

- `generate` (untimed): seeded inputs and ground truth, via gen.py;
- `setup` (timed): table load, index build or facade bulk load;
- `warmup` (untimed): operations whose first run pays one-off costs
  (Python workers, code generation);
- `op` (timed) then `check` (untimed): one operation and the
  verification of its output against the ground truth.

Operations call the engine only through its public functions. In a
traced run, the spans around each call stand for one engine module.
Engine functions that a public call reaches internally are wrapped for
the run (`install_tracing`), so their spans nest inside the call's own
span without running anything twice. Where a module's output is lazy
and the operation forces it together with other modules, a traced
operation adds a probe: an extra action (a `noop` sink or a `count()`)
that forces that module alone.
"""

from __future__ import annotations

import os
from collections import defaultdict
from urllib.parse import urlparse

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from spans import Tracer

QUERY_SCHEMA = "query_id int, query_embedding array<float>"
SCORE_TOL = 1e-6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _in_span(tracer: Tracer, name: str):
    """Wrapper factory for `Workload._patch`: each call runs in span `name`."""

    def make(orig):
        def traced(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        return traced

    return make


def _files_under(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) below `path`."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def check_ranked(rows, truth_ids, unit_corpus, queries):
    """Check ranked (query, id, score, rank) rows of a top-k search.

    Per query: ranks 1..TOP_K exactly once, distinct ids that exist in
    the corpus, and each reported score equal (within SCORE_TOL) to the
    id's true cosine — so an id outside the exact top-k passes only as a
    tie. Returns (ok, note, recall): recall is the overlap with the
    exact top-k over TOP_K, averaged over queries."""
    by_q: dict[int, list] = defaultdict(list)
    for q, vid, score, rank in rows:
        by_q[q].append((rank, vid, score))
    qn = gen._unit64(queries)
    hits = 0
    for q in range(len(queries)):
        got = sorted(by_q[q])
        if [r for r, _v, _s in got] != list(range(1, gen.TOP_K + 1)):
            return False, f"query {q}: ranks {[r for r, _v, _s in got]}", 0.0
        ids = [v for _r, v, _s in got]
        if len(set(ids)) != gen.TOP_K:
            return False, f"query {q}: repeated ids {ids}", 0.0
        for _r, vid, score in got:
            if not 0 <= vid < len(unit_corpus) or abs(unit_corpus[vid] @ qn[q] - score) > SCORE_TOL:
                return False, f"query {q}: id {vid} score {score} is not its cosine", 0.0
        exact = set(truth_ids[q].tolist())
        hits += len(exact & set(ids))
    return True, "", hits / (gen.TOP_K * len(queries))


class Workload:
    name = ""
    #: the operation kind whose latency and result quality the run reports
    primary = ""
    #: kinds of operations 0, 1, 2, ... repeating; a run measures whole
    #: cycles, so every run has the same mix
    CYCLE: tuple[str, ...] = ()
    #: kind → name of its result quality in the run details
    quality_names: dict[str, str] = {}

    def __init__(self, tracer: Tracer, workdir: str) -> None:
        self.tracer = tracer
        self.workdir = workdir
        self.spark = None
        #: kind → [sum of per-op quality, checked ops]
        self._quality: dict[str, list] = defaultdict(lambda: [0.0, 0])
        #: (module, attribute, original) of every wrapped engine function
        self._patched: list[tuple] = []

    def _patch(self, module, attr: str, make) -> None:
        """Replace `module.attr` by `make(original)` until `close()`."""
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr, make(orig))

    def install_tracing(self) -> None:
        """Wrap the engine functions a traced run times from inside."""

    def add_quality(self, kind: str, value: float) -> None:
        q = self._quality[kind]
        q[0] += value
        q[1] += 1

    def quality(self, kind: str | None = None) -> float:
        total, n = self._quality[kind or self.primary]
        return total / n if n else 0.0

    def kind_of(self, i: int) -> str:
        """Kind of operation `i` of the loop."""
        return self.CYCLE[i % len(self.CYCLE)]

    def named_metrics(self, log) -> dict:
        """The metrics only some workloads have, for the run details."""
        out = {}
        for kind, label in (("search", "search"), ("curate", "dedup_pass"), ("write", "write")):
            s = log.summary(kind)
            if s["n"]:
                out[f"{label}_p50_s"], out[f"{label}_tail_s"] = s["p50_s"], s["tail_s"]
        if log.summary("write")["n"]:
            out["rows_ingested_per_s"] = log.items("write") / log.busy_s("write")
        if log.summary("curate")["n"]:
            out["docs_per_s"] = log.items("curate") / log.busy_s("curate")
        for kind, name in self.quality_names.items():
            out[name] = self.quality(kind)
        return out

    def close(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched = []


# ----------------------------------------------------------------------
class IvfIngest(Workload):
    """Serve while ingesting: IVF batch searches over a partitioned corpus;
    one operation in five is a validated append into that layout."""

    name = "ivf-ingest"
    primary = "search"
    CYCLE = ("search", "write", "search", "search", "search")
    quality_names = {"search": "recall_at_10"}
    N, DIM, BATCH, N_BATCHES = 20_000, 64, 16, 32
    CELLS, NPROBE = 16, 2
    APPEND_ROWS, MAX_APPENDS = 500, 32
    WARMUP_SEARCHES = 1

    def generate(self, rng) -> None:
        self.inp = gen.make_vectors(
            rng, self.workdir, self.N, self.DIM, self.N_BATCHES, self.BATCH,
            self.MAX_APPENDS, self.APPEND_ROWS,
        )
        self.queries = [
            [(q, v.tolist()) for q, v in enumerate(mat)] for mat in self.inp.query_batches
        ]

    def setup(self, spark) -> None:
        from aeuc_vector_db_spark.operators import ann

        self.spark = spark
        self.path = os.path.join(self.workdir, "ivf")
        self.appended = 0
        self.searches = 0
        corpus = spark.read.parquet(self.inp.corpus_path)
        with self.tracer.span("ann.index_build"):
            self.centroids = ann.fit_centroids_sample_local(corpus, k=self.CELLS)
            assign = ann.assign_centroids(corpus, self.centroids)
            ann.write_ivf_corpus(corpus, assign, self.path)
        self.cent_df = spark.createDataFrame(
            self.centroids, "centroid_id int, centroid array<double>"
        )

    def install_tracing(self) -> None:
        from aeuc_vector_db_spark.operators import search

        t = self.tracer

        def make(orig):
            # the fine scan's plan, built by ivf_search_batch_arrow after
            # its coarse-probe collect; the pruned frame is kept for the
            # probes
            def traced(*a, **kw):
                with t.span("search.plan_build"):
                    res = orig(*a, **kw)
                self._pruned, self._query_cells = a[0], kw["query_cells"]
                return res

            return traced

        self._patch(search, "knn_search_batch_arrow", make)

    def warmup(self) -> None:
        for _ in range(self.WARMUP_SEARCHES):
            self._search()

    def op(self, i: int):
        return self._append() if self.kind_of(i) == "write" else self._search()

    def _search(self):
        from aeuc_vector_db_spark.operators import ann

        t, spark = self.tracer, self.spark
        b = self.searches % self.N_BATCHES
        self.searches += 1
        q = spark.createDataFrame(self.queries[b], QUERY_SCHEMA)
        ivf = spark.read.parquet(self.path)
        # self time: the coarse probe and its collect; the fine scan's
        # plan is the child span search.plan_build
        with t.span("ann.probe"):
            res = ann.ivf_search_batch_arrow(ivf, self.cent_df, q, top_k=gen.TOP_K, nprobe=self.NPROBE)
        with t.span("search.kernel"):
            rows = res.collect()
        if t.enabled:
            self._trace_scan()
        return "search", self.BATCH, (b, self.appended, rows)

    def _trace_scan(self) -> None:
        """Counts and probes of the pruned scan the traced search just ran."""
        t, pruned = self.tracer, self._pruned
        cells = sum(len(c) for c in self._query_cells.values())
        t.count("ann.cells_probed_per_query", cells / len(self._query_cells))
        with t.span("sources.scan", probe=True):
            _noop(pruned.select("vec_id", "embedding"))
        with t.span("sources.list", probe=True):
            files = pruned.inputFiles()
            rows = sum(pq.read_metadata(urlparse(f).path).num_rows for f in files)
        t.count("sources.files_scanned_per_search", len(files))
        # the kernel scores every scanned row against every query
        t.count("ann.rows_examined_per_result", rows / gen.TOP_K)
        t.count("search.pair_scores_per_s", rows * self.BATCH / t.last("search.kernel"))

    def _append(self):
        from aeuc_vector_db_spark import schemas
        from aeuc_vector_db_spark.operators import ann

        t, spark, j = self.tracer, self.spark, self.appended
        if j == self.MAX_APPENDS:
            raise RuntimeError(f"all {j} generated append batches are used")
        batch = spark.read.parquet(self.inp.append_paths[j])
        validated = schemas.assert_valid(batch, self.DIM)
        if t.enabled:
            with t.span("schemas.validate", probe=True):
                _noop(validated)
            with t.span("ann.assign", probe=True):
                _noop(ann.assign_centroids(validated, self.centroids))
            with t.span("sources.list", probe=True):
                files0, bytes0 = _files_under(self.path)
        with t.span("sources.write"):
            ann.ivf_append(validated, self.centroids, self.path)
        self.appended += 1
        if t.enabled:
            with t.span("sources.list", probe=True):
                files1, bytes1 = _files_under(self.path)
            user_bytes = self.APPEND_ROWS * (8 + 8 + 4 + 4 * self.DIM)
            t.count("sources.files_per_append", files1 - files0)
            t.count("sources.bytes_written_per_user_byte", (bytes1 - bytes0) / user_bytes)
        return "write", self.APPEND_ROWS, None

    def check(self, i: int, kind: str, out):
        if kind == "write":
            # counted from the parquet footers, without the engine
            want = self.N + self.appended * self.APPEND_ROWS
            got = ds.dataset(self.path, format="parquet", partitioning="hive").count_rows()
            return got == want, "" if got == want else f"row count {got} != {want}"
        b, n_app, rows = out
        truth_ids = self.inp.truth_after(b, n_app)
        ok, note, recall = check_ranked(
            [(r["query_id"], r["vec_id"], r["score"], r["rank"]) for r in rows],
            truth_ids, self.inp.unit_after(n_app), self.inp.query_batches[b],
        )
        if ok:
            self.add_quality("search", recall)
        return ok, note


# ----------------------------------------------------------------------
class Curation:
    """A curation pass over a document corpus with planted duplicates:
    MinHash near-dup pairs, exact-dedup groups and text features."""

    THRESHOLD = 0.5

    def __init__(self, tracer: Tracer, rng, path: str, n_docs: int) -> None:
        self.tracer = tracer
        self.n_docs = n_docs
        self.docs = gen.make_docs(rng, path, n_docs, threshold=self.THRESHOLD)
        self.shingles = [gen.shingles(s) for s in self.docs.texts]
        self.n_tokens = [len(gen.tokens(s)) for s in self.docs.texts]
        self.planted = self.docs.planted_above()

    def run(self, spark):
        from aeuc_vector_db_spark.operators import dedup, text

        t = self.tracer
        docs = spark.read.parquet(self.docs.path)
        if t.enabled:
            with t.span("dedup.shingle", probe=True):
                _noop(dedup.shingle_sets(docs))
            with t.span("dedup.candidates", probe=True):
                n_cand = dedup.minhash_candidates(docs).count()
            t.count("dedup.candidate_pairs", n_cand)
        with t.span("dedup.verify"):
            pairs = dedup.minhash_near_dup(docs, threshold=self.THRESHOLD).collect()
        if t.enabled:
            t.count("dedup.verified_frac", len(pairs) / n_cand if n_cand else 0.0)
        with t.span("dedup.exact"):
            groups = dedup.exact_dedup(docs).count()
        with t.span("text.features"):
            feats = text.with_text_features(docs).select("doc_id", "n_tokens").collect()
        return pairs, groups, feats

    def check(self, out) -> tuple[bool, str, float]:
        """(ok, note, recall of the planted pairs at or above THRESHOLD)."""
        pairs, groups, feats = out
        if groups != self.docs.distinct_texts:
            return False, f"exact_dedup groups {groups} != {self.docs.distinct_texts}", 0.0
        found = set()
        for r in pairs:
            a, b = r["a_id"], r["b_id"]
            if gen.jaccard(self.shingles[a], self.shingles[b]) < self.THRESHOLD - 1e-9:
                return False, f"pair ({a}, {b}) below threshold", 0.0
            found.add((a, b))
        if len(feats) != self.n_docs or any(
            r["n_tokens"] != self.n_tokens[r["doc_id"]] for r in feats
        ):
            return False, "text features disagree with the token counts", 0.0
        return True, "", len(found & self.planted) / len(self.planted)


# ----------------------------------------------------------------------
class FacadeCuration(Workload):
    """VectorField point operations — one-query searches and one-row adds,
    9:1 — over rows persisted in memory, and one curation pass over a
    document corpus per 20 point operations. That weight is set by the
    time budget of a run, not taken from measured traffic."""

    name = "facade-curation"
    primary = "search"
    CYCLE = ("search", "curate", "write") + ("search",) * 8 + ("write",) + ("search",) * 9
    quality_names = {
        "search": "recall_at_10", "write": "rank1_self_hit_frac", "curate": "dup_pair_recall",
    }
    N, DIM, N_QUERIES, MAX_ADDS = 2_000, 64, 256, 200
    N_DOCS, N_WARMUP_DOCS = 2_000, 50
    WARMUP_SEARCHES = 10

    def generate(self, rng) -> None:
        self.curation = Curation(
            self.tracer, rng, os.path.join(self.workdir, "docs.parquet"), self.N_DOCS
        )
        # same plan over fewer documents: pays the pass's one-off costs
        self.warm_curation = Curation(
            self.tracer, rng, os.path.join(self.workdir, "docs-warmup.parquet"), self.N_WARMUP_DOCS
        )
        self.base, self.queries, self.adds = gen.mixture(
            rng, self.DIM, self.N, self.N_QUERIES, self.MAX_ADDS
        )
        self.path = os.path.join(self.workdir, "iglyphs.parquet")
        pq.write_table(gen.facade_table(self.base), self.path)

    def setup(self, spark) -> None:
        from aeuc_vector_db_spark.vector_field import VectorField

        self.spark = spark
        self.added = 0
        self.n_search = 0
        self.unit = gen._unit64(self.base)
        vf = VectorField(spark, dim=self.DIM)
        vf.add_iglyphs_batch(spark.read.parquet(self.path))
        vf.iglyphs = vf.iglyphs.persist()
        vf.iglyphs.count()
        self.vf = vf

    def install_tracing(self) -> None:
        from aeuc_vector_db_spark.operators import crud, search

        t = self.tracer
        # the digest VectorField recomputes on every mutation
        self._patch(crud, "dataset_digest", _in_span(t, "crud.digest"))

        def make(orig):
            # VectorField.search builds its plan with knn_search (one
            # Python-to-JVM call per dimension), then collects it
            def traced(*a, **kw):
                with t.span("search.plan_build"):
                    res = orig(*a, **kw)
                collect = res.collect

                def traced_collect():
                    with t.span("search.knn_single"):
                        return collect()

                res.collect = traced_collect
                return res

            return traced

        self._patch(search, "knn_search", make)

    def warmup(self) -> None:
        self.warm_curation.run(self.spark)
        for _ in range(self.WARMUP_SEARCHES):
            self._search()

    def op(self, i: int):
        kind = self.kind_of(i)
        if kind == "search":
            return self._search()
        if kind == "curate":
            return "curate", self.N_DOCS, self.curation.run(self.spark)
        return self._add()

    def _add(self):
        t, j = self.tracer, self.added
        if j == self.MAX_ADDS:
            raise RuntimeError(f"all {j} generated rows are added")
        emb = self.adds[j].tolist()
        with t.span("vector_field.add"):
            self.vf.add_iglyph(j % 144_000, j % 10, emb, label=f"add{j}", iglyph_id=f"a{j}")
        self.added += 1
        return "write", 1, j

    def _search(self):
        qi = self.n_search % len(self.queries)
        self.n_search += 1
        # children: search.plan_build and search.knn_single (the job)
        with self.tracer.span("vector_field.search"):
            res = self.vf.search(self.queries[qi].tolist(), top_k=gen.TOP_K)
        return "search", 1, (qi, res)

    def _row_index(self, iglyph_id: str) -> int:
        """Row of `iglyph_id` in base rows followed by added rows."""
        if iglyph_id[0] == "g":
            return int(iglyph_id[1:])
        return self.N + int(iglyph_id[1:])

    def check(self, i: int, kind: str, out):
        if kind == "curate":
            ok, note, recall = self.curation.check(out)
            if ok:
                self.add_quality("curate", recall)
            return ok, note
        if kind == "write":
            j = out
            self.unit = np.vstack([self.unit, gen._unit64(self.adds[j][None, :])])
            top = self.vf.search(self.adds[j].tolist(), top_k=1)
            ok = bool(top) and top[0][0] == f"a{j}"
            self.add_quality("write", float(ok))
            return ok, "" if ok else f"added row a{j} not at rank 1: {top[:1]}"
        qi, res = out
        query = self.queries[qi][None, :]
        truth_ids = gen.exact_topk(self.unit, query)[0]
        rows = [(0, self._row_index(vid), s, rank) for rank, (vid, s) in enumerate(res, 1)]
        ok, note, recall = check_ranked(rows, truth_ids, self.unit, query)
        if ok:
            self.add_quality("search", recall)
        return ok, note


WORKLOADS = {w.name: w for w in (IvfIngest, FacadeCuration)}
