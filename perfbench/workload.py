"""One benchmark run: set-up, then serve and churn phases.

Started by run.py inside an isolated run directory (fresh TMPDIR,
SPARK_LOCAL_DIRS and index directories, worker PYTHONPATH exported).
Single process: ``local[nproc]`` Spark and one closed-loop client that
issues the next call only after the previous one returned.

Every workload runs the whole index life cycle (build, distinct and
repeated queries, NRT update rounds, merge), so every metric exists on
every workload; the workloads differ in where the work goes (WORKLOADS).
Inputs are a pure function of --seed; the engine receives only the
generated tables.  Answers are checked after the timed phases and after
the peak RSS is read, so the checkers' memory never counts.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import statistics
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus as gen  # noqa: E402
from checks import Oracle, Truth, doc_ids_from_meta  # noqa: E402
from trace import Tracer  # noqa: E402


@dataclasses.dataclass(frozen=True)
class Mix:
    base_docs: int       # docs in the index built during set-up
    sorted_ids: bool     # docIDs from the (repo, path, commit) sort, else the id column
    serve: bool          # cold + steady streams over the unchanged index for --seconds
    rounds: int          # NRT rounds: update, delete, reopen, visibility query
    round_queries: int   # distinct queries per round (plus the old-marker query)


# engine settings run.py pins away from their defaults (reported with
# every result)
PINNED_ENV = ("GOLUCENE_WARM_DOCS", "SPARK_GRAFT_DRIVER_MEM")
BATCH_DOCS = 400  # docs per update_documents; half rewrite live ids
DELETES = 20      # ids tombstoned per round


# Why these two: query_serve runs distinct queries whose working set
# exceeds the driver-side memos, then repeats that always hit them;
# nrt_churn invalidates those memos every round (reopen) and queries
# many segments with tombstones.  Both build their index during set-up,
# one through each docID path.
WORKLOADS = {
    "query_serve": Mix(base_docs=2500, sorted_ids=True, serve=True, rounds=1,
                       round_queries=1),
    "nrt_churn": Mix(base_docs=2000, sorted_ids=False, serve=False, rounds=2,
                     round_queries=5),
}


def engine_identity() -> str:
    """Content hash of the engine package (the checkout is not a git
    repository, so no commit id is available)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "golucene_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if not fn.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dp, fn))
                files += 1
    return size, files


def pct(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(p * len(xs)))]


class Run:
    def __init__(self, args):
        self.args = args
        self.mix = WORKLOADS[args.workload]
        self.rundir = Path(args.rundir)
        self.tr = Tracer(bool(args.trace))
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.m: dict[str, float] = {}               # single values
        self.samples: dict[str, list[float]] = {}   # per-operation values
        # answers to check and Truth updates, replayed in order by
        # check_answers() once the timed phases are over
        self.pending: list[tuple] = []

    # -- bookkeeping ---------------------------------------------------
    def sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(v)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def next_query(self) -> gen.QuerySpec:
        return self.queries.pop(0)

    # -- inputs (untimed) ----------------------------------------------
    def generate(self) -> None:
        a, mix = self.args, self.mix
        self.vocab = gen.make_vocab(a.seed)
        self.corpus = gen.make_corpus(a.seed, mix.base_docs, vocab=self.vocab)
        self.queries = gen.make_queries(self.corpus, 90, a.seed)
        rng = np.random.default_rng([a.seed, 4])
        self.batches = []
        for r in range(mix.rounds):
            # a version marker no generated word can equal (none starts with q)
            marker = "q" + "".join(chr(97 + int(x)) for x in rng.integers(0, 26, 8))
            self.batches.append(gen.make_corpus(
                a.seed, BATCH_DOCS, stream=1 + r, vocab=self.vocab,
                extra_token=marker))
        import pyarrow.parquet as pq

        self.input_dir = self.rundir / "input"
        self.input_dir.mkdir()
        t = self.corpus.arrow_table()
        step = -(-t.num_rows // self.cpus)
        for i in range(self.cpus):  # one file per core
            pq.write_table(t.slice(i * step, step), self.input_dir / f"part-{i}.parquet")

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        tr = self.tr
        from golucene_spark.index import CorpusSpec, IndexBuilder
        from golucene_spark.session import get_spark, warm_workers

        with tr.span("session.get_spark"):
            t = time.perf_counter()
            self.spark = get_spark(
                app_name="golucene-perfbench", master=f"local[{self.cpus}]",
                extra_conf={"spark.ui.showConsoleProgress": "false"})
            self.m["session.get_spark_s"] = time.perf_counter() - t
        tr.attach(self.spark)
        with tr.span("session.warm_workers"):
            self.m["session.warm_workers_s"] = warm_workers(self.spark)

        # update batches always carry the engine doc id in an id column
        self.id_spec = dataclasses.replace(
            CorpusSpec.source_code(), id_col="id", key_cols=["id"])
        spec = CorpusSpec.source_code() if self.mix.sorted_ids else self.id_spec
        self.ix_dir = str(self.rundir / "index")
        docs = self.spark.read.parquet(str(self.input_dir))
        with tr.span("builder.build") as sp:
            t = time.perf_counter()
            metrics = IndexBuilder(self.spark, spec).build(docs, self.ix_dir)
            wall = time.perf_counter() - t
        if sp is not None:
            sp.attrs["docs"] = self.corpus.n_docs
        c = self.corpus
        self.op(metrics["docs"] == c.n_docs, f"built {metrics['docs']} of {c.n_docs} docs")
        self.m["build_docs_per_s"] = c.n_docs / wall
        self.m["builder.build_s"] = wall
        self.m["builder.field_stats_s"] = metrics["field_stats_sec"]

    def record_index_layout(self) -> None:
        """Doc-id mapping, index size, per-table bytes/files, manifest
        stage times and the term dictionary of the set-up build
        (untimed)."""
        import pyarrow.parquet as pq

        c, total = self.corpus, 0
        self.doc_ids = doc_ids_from_meta(self.ix_dir, c) if self.mix.sorted_ids else c.ids
        for table in ("postings", "term_dict", "doc_stats", "doc_meta", "field_stats"):
            b, f = dir_stats(os.path.join(self.ix_dir, table))
            self.m[f"builder.bytes.{table}"] = b
            self.m[f"builder.files.{table}"] = f
            total += b
        self.m["index_bytes_per_input_byte"] = total / c.input_bytes()
        with open(os.path.join(self.ix_dir, "manifest", "chunk-00000.json")) as f:
            stage = json.load(f)["stage_sec"]
        for k in ("postings_write", "doc_meta_write", "term_dict_write", "doc_stats_write"):
            self.m[f"builder.stage.{k}_s"] = stage[k]
        td = pq.read_table(os.path.join(self.ix_dir, "term_dict"), columns=["field", "term"])
        terms = {t for f, t in zip(td.column("field").to_pylist(), td.column("term").to_pylist())
                 if f == "content"}
        df = c.doc_freqs()
        want = set(c.vocab[df > 0].tolist())
        self.op(terms == want, f"term_dict holds {len(terms)} terms, corpus {len(want)}")
        self.m["builder.distinct_terms"] = len(terms)
        self.m["builder.top_term_df_ratio"] = float(df.max()) / c.n_docs

    # -- calls into the engine ---------------------------------------------
    def open_index(self):
        from golucene_spark.index import MaterializedIndex

        with self.tr.span("index.open"):
            t = time.perf_counter()
            ix = MaterializedIndex(self.spark, self.ix_dir)
            self.sample("index.open_s", time.perf_counter() - t)
        return ix

    def run_query(self, ix, text: str, k: int, stream: str,
                  q: gen.QuerySpec | None = None):
        """Parse, plan (Searcher.search) and execute (collect) one query
        through a fresh Searcher.  Returns (parsed query, rows)."""
        from golucene_spark.search import Searcher, parse_query

        tr = self.tr
        with tr.span(f"search.{stream}", qid=q.qid if q else None):
            t0 = time.perf_counter()
            with tr.span("parser.parse_query"):
                parsed = parse_query(text, default_field="content")
            t1 = time.perf_counter()
            with tr.span("search.plan", stream=stream):
                frame = Searcher(ix, "bm25").search(parsed, k)
            t2 = time.perf_counter()
            with tr.span("search.exec", stream=stream) as sp:
                rows = frame.collect()
            t3 = time.perf_counter()
        self.sample("parser.parse_s", t1 - t0)
        self.sample(f"search.plan_s.{stream}", t2 - t1)
        self.sample(f"search.exec_s.{stream}", t3 - t2)
        self.sample(f"query_s.{stream}", t3 - t0)
        if q is not None:
            self.sample(f"search.shape.{q.shape}.{stream}_s", t3 - t0)
        if sp is not None:
            t = time.perf_counter()
            sp.attrs["scan_files"], sp.attrs["scan_bytes"] = scan_metrics(frame)
            tr.overhead_s += time.perf_counter() - t
        return parsed, rows

    # -- phases ------------------------------------------------------------
    def serve(self) -> None:
        """Cold stream: distinct queries, each parsed and executed once,
        for 0.6 * --seconds (at least one per shape).  Steady stream: the
        same queries again in seeded order, each through a fresh Searcher
        over the same index (memo hits), for 0.4 * --seconds."""
        if not self.mix.serve:
            return
        ix = self.open_index()
        cold, steady = [], []
        t_end = time.perf_counter() + 0.6 * self.args.seconds
        while len(cold) < len(gen.SHAPES) or time.perf_counter() < t_end:
            q = self.next_query()
            cold.append((q, *self.run_query(ix, q.text, 10, "cold", q)))
        rng = np.random.default_rng([self.args.seed, 5])
        t_end = time.perf_counter() + 0.4 * self.args.seconds
        while len(steady) < len(cold) or time.perf_counter() < t_end:
            for i in rng.permutation(len(cold)):
                q = cold[i][0]
                steady.append((q, *self.run_query(ix, q.text, 10, "steady", q)))
        for q, parsed, rows in cold + steady:
            self.pending.append((q.check, parsed, rows, 10, q.text))
        self.record_stream([q for q, _, _ in cold])

    def record_stream(self, cold: list) -> None:
        self.m["workload.cold_queries"] = len(cold)
        self.m["workload.cold_miss_share"] = sum(q.band == "miss" for q in cold) / len(cold)
        self.m["workload.cold_hot_share"] = sum(q.band == "hot" for q in cold) / len(cold)
        self.shape_mix = {s: sum(q.shape == s for q in cold) / len(cold) for s in gen.SHAPES}
        self.cold_bands = [f"{q.shape}/{q.band}" for q in cold]

    def churn(self) -> None:
        """NRT rounds, then one merge of every live segment.  A round:
        update_documents (half the batch rewrites ids of the previous
        batch, half adds new ids; every batch doc carries the round's
        marker), delete_docs, reopen, then the marker query that shows
        the new version.  After it: the previous marker (old versions
        must be gone) and ``round_queries`` distinct queries.  Without a
        serve phase these are the cold stream (one per shape in all) and
        each is repeated three times on the same snapshot (the steady
        stream).  After the merge, the last marker is queried again."""
        from golucene_spark.index import merge_segments
        from golucene_spark.index.deletes import delete_docs, update_documents

        mix, tr, spark = self.mix, self.tr, self.spark
        rng = np.random.default_rng([self.args.seed, 6])
        pool = [int(d) for d in rng.permutation(self.doc_ids)]
        next_id = int(self.doc_ids.max()) + 1
        half = BATCH_DOCS // 2
        round_cold = []
        prev_ids, prev_marker = [pool.pop() for _ in range(half)], None
        for r, batch in enumerate(self.batches):
            ids = prev_ids[:half] + list(range(next_id, next_id + BATCH_DOCS - half))
            next_id += BATCH_DOCS - half
            marker = batch.vocab[-1]
            pdf = batch.arrow_table().to_pandas()
            pdf["id"] = ids
            df = spark.createDataFrame(pdf)
            dels = [pool.pop() for _ in range(DELETES)]
            t0 = time.perf_counter()
            with tr.span("nrt.update_documents") as sp:
                update_documents(spark, self.ix_dir, df, self.id_spec)
            t1 = time.perf_counter()
            with tr.span("deletes.delete_docs"):
                delete_docs(spark, self.ix_dir, dels)
            t2 = time.perf_counter()
            ix = self.open_index()
            t3 = time.perf_counter()
            parsed, rows = self.run_query(ix, f"content:{marker}", BATCH_DOCS, "visible")
            t4 = time.perf_counter()
            self.pending += [("update", batch, ids), ("delete", dels),
                             ("membership", parsed, rows, BATCH_DOCS,
                              f"round {r}: marker {marker} does not show the new versions")]
            self.sample("nrt.update_documents_s", t1 - t0)
            self.sample("nrt.delete_docs_s", t2 - t1)
            self.sample("nrt.reopen_s", t3 - t2)
            self.sample("nrt.visible_query_s", t4 - t3)
            self.sample("nrt_visible_s", t4 - t0)
            if sp is not None:
                self.sample("nrt.update_jobs", sp.jobs)
            if prev_marker:
                self.nrt_query(ix, f"content:{prev_marker}", BATCH_DOCS, "nrt")
            for _ in range(mix.round_queries):
                q = self.next_query()
                if mix.serve:
                    self.nrt_query(ix, q.text, 10, "nrt", q)
                elif len(round_cold) < len(gen.SHAPES):
                    round_cold.append(q)
                    self.nrt_query(ix, q.text, 10, "cold", q)
                    for _ in range(3):
                        self.nrt_query(ix, q.text, 10, "steady", q)
            prev_ids, prev_marker = ids, marker
        if round_cold:
            self.record_stream(round_cold)

        segs = live_segments(self.ix_dir)
        self.m["nrt.live_segments"] = self.m["merge.segments_in"] = len(segs)
        self.m["nrt.tombstoned_docs"] = tombstoned(self.ix_dir)
        before = dir_stats(self.ix_dir)[0]
        with tr.span("merge.merge_segments"):
            t = time.perf_counter()
            merge_segments(spark, self.ix_dir, segs)
            self.m["merge_s"] = time.perf_counter() - t
        self.m["merge.bytes_written"] = dir_stats(self.ix_dir)[0] - before
        ix = self.open_index()
        self.nrt_query(ix, f"content:{prev_marker}", BATCH_DOCS, "post_merge")

    def nrt_query(self, ix, text: str, k: int, stream: str, q=None) -> None:
        """A query over the churned index, checked by brute force."""
        parsed, rows = self.run_query(ix, text, k, stream, q)
        if stream != "steady":
            self.sample("nrt_query_s", self.samples[f"query_s.{stream}"][-1])
        self.pending.append(("membership", parsed, rows, k, f"{stream} {text!r}"))

    # -- answer checks (untimed) -------------------------------------------
    def check_answers(self) -> None:
        """Replay ``pending`` in order: exact top-10 against OracleIndex
        for "oracle" queries, brute force over the live documents for the
        rest, with update batches and deletes applied as they happened."""
        truth = Truth(self.corpus, self.doc_ids)
        oracle = Oracle(self.corpus, self.doc_ids, ROOT / ".perfbench_cache",
                        f"{self.args.workload}-{self.args.seed}")
        for kind, *a in self.pending:
            if kind == "update":
                truth.update(*a)
            elif kind == "delete":
                truth.delete(*a)
            else:
                parsed, rows, k, what = a
                ok = (oracle.check(what, parsed, rows) if kind == "oracle"
                      else truth.check(parsed, rows, k))
                self.op(ok, what)
        oracle.save()

    # -- traced-only probes ------------------------------------------------
    def layer_probes(self) -> None:
        """Per-layer probes outside the timed phases: the analyzer kernel
        on a fixed sample without Spark, and tokenize_tf into a noop sink
        (the Arrow boundary is the latter minus kernel time)."""
        from golucene_spark.analysis import get_analyzer
        from golucene_spark.index import assign_doc_ids, tokenize_tf

        an = get_analyzer("standard")
        with self.tr.span("analysis.analyze_batch"):
            t = time.perf_counter()
            terms, _, _ = an.analyze_batch(self.corpus.content)
            self.m["analysis.kernel_s"] = time.perf_counter() - t
        self.m["analysis.kernel_tokens_per_s"] = len(terms) / self.m["analysis.kernel_s"]
        docs = assign_doc_ids(self.spark.read.parquet(str(self.input_dir)), self.id_spec, 8)
        with self.tr.span("builder.tokenize_tf"):
            t = time.perf_counter()
            tokenize_tf(docs, self.id_spec).write.format("noop").mode("overwrite").save()
            self.m["builder.tokenize_noop_s"] = time.perf_counter() - t


def scan_metrics(frame) -> tuple[int, int]:
    """Files and bytes read by the file scans in ``frame``'s executed
    plan (Spark resets the plan's metrics before each action)."""
    files = nbytes = 0
    stack = [frame._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            ms = node.metrics()
            for key in ("numFiles", "filesSize"):
                opt = ms.get(key)
                if opt.isDefined():
                    v = int(opt.get().value())
                    if key == "numFiles":
                        files += v
                    else:
                        nbytes += v
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return files, nbytes


def live_segments(index_dir: str) -> list[int]:
    from golucene_spark.index.builder import dead_segments

    segs: set[int] = set()
    mdir = os.path.join(index_dir, "manifest")
    for fn in os.listdir(mdir):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                rec = json.load(f)
            segs.update(int(s) for s in rec.get("segments", {}))
            if rec.get("kind") in ("update", "stream"):
                segs.add(int(rec["segment_id"]))
            if rec.get("kind") == "merge":
                segs.add(int(rec["new_segment_id"]))
    return sorted(segs - dead_segments(index_dir))


def tombstoned(index_dir: str) -> int:
    import pyarrow.parquet as pq

    d = os.path.join(index_dir, "tombstones")
    return pq.read_table(d, columns=["doc_id"]).num_rows if os.path.isdir(d) else 0


class Found(dict):
    """name -> (value, unit, samples behind the value)."""

    def one(self, name: str, value: float, unit: str) -> None:
        self[name] = (value, unit, 1)

    def stat(self, name: str, xs: list, unit: str = "s", how: str = "p50") -> None:
        xs = list(xs)
        value = {"p50": statistics.median, "mean": statistics.mean,
                 "p90": lambda v: pct(v, 0.9)}[how](xs)
        self[name] = (value, unit, len(xs))


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> Found:
    """Every metric a user of the engine sees."""
    s, m, f = run.samples, run.m, Found()
    f.one("setup_s", setup_s, "s")
    f.one("build_docs_per_s", m["build_docs_per_s"], "docs/s")
    f.one("index_bytes_per_input_byte", m["index_bytes_per_input_byte"], "ratio")
    for stream in ("cold", "steady"):
        f.stat(f"{stream}_query_p50_s", s[f"query_s.{stream}"])
        f.stat(f"{stream}_query_p90_s", s[f"query_s.{stream}"], how="p90")
    f.stat("nrt_visible_p50_s", s["nrt_visible_s"])
    f.stat("nrt_query_p50_s", s["nrt_query_s"])
    f.one("merge_s", m["merge_s"], "s")
    f.one("driver_rss_mb", rss_mb, "MB")
    return f


def per_layer(run: Run, py_mb: float, jvm_mb: float, measured_wall: float) -> Found:
    """Per-layer metrics of the traced run."""
    s, m, tr, f = run.samples, run.m, run.tr, Found()
    tr.resolve_tasks()
    for k in ("session.get_spark_s", "session.warm_workers_s", "analysis.kernel_s",
              "builder.tokenize_noop_s", "builder.build_s", "builder.field_stats_s"):
        f.one(k, m[k], "s")
    f.one("analysis.kernel_tokens_per_s", m["analysis.kernel_tokens_per_s"], "tokens/s")
    for k in ("postings_write", "doc_meta_write", "term_dict_write", "doc_stats_write"):
        f.one(f"builder.stage.{k}_s", m[f"builder.stage.{k}_s"], "s")
    build = tr.by_name("builder.build")[0]
    f.one("builder.jobs", build.jobs, "count")
    f.one("builder.tasks", build.tasks, "count")
    for table in ("postings", "term_dict", "doc_stats", "doc_meta", "field_stats"):
        f.one(f"builder.bytes.{table}", m[f"builder.bytes.{table}"], "bytes")
        f.one(f"builder.files.{table}", m[f"builder.files.{table}"], "count")
    f.one("builder.distinct_terms", m["builder.distinct_terms"], "count")
    f.one("builder.top_term_df_ratio", m["builder.top_term_df_ratio"], "ratio")
    f.stat("index.open_s", s["index.open_s"])
    f.stat("parser.parse_s", s["parser.parse_s"])
    for stream in ("cold", "steady"):
        f.stat(f"search.plan_s.{stream}_p50", s[f"search.plan_s.{stream}"])
        f.stat(f"search.exec_s.{stream}_p50", s[f"search.exec_s.{stream}"])
    plans = [p for p in tr.by_name("search.plan") if p.attrs["stream"] == "cold"]
    execs = [e for e in tr.by_name("search.exec") if e.attrs["stream"] in ("cold", "steady")]
    f.stat("search.plan_jobs.cold_mean", (p.jobs for p in plans), "count", "mean")
    f.stat("search.exec_jobs_mean", (e.jobs for e in execs), "count", "mean")
    f.stat("search.tasks_mean", (e.tasks for e in execs), "count", "mean")
    f.stat("search.scan_files_read_mean", (e.attrs["scan_files"] for e in execs), "count", "mean")
    f.stat("search.scan_bytes_read_mean", (e.attrs["scan_bytes"] for e in execs), "bytes", "mean")
    for shape in gen.SHAPES:
        for stream in ("cold", "steady"):
            f.stat(f"search.shape.{shape}.{stream}_p50_s", s[f"search.shape.{shape}.{stream}_s"])
    for k in ("update_documents", "delete_docs", "reopen", "visible_query"):
        f.stat(f"nrt.{k}_s", s[f"nrt.{k}_s"])
    f.stat("nrt.update_jobs", s["nrt.update_jobs"], "count", "mean")
    for k in ("nrt.live_segments", "nrt.tombstoned_docs", "merge.segments_in"):
        f.one(k, m[k], "count")
    f.one("merge.merge_segments_s", m["merge_s"], "s")
    f.one("merge.bytes_written", m["merge.bytes_written"], "bytes")
    f.stat("merge.post_merge_query_p50_s", s["query_s.post_merge"])
    for k in ("cold_queries", "cold_miss_share", "cold_hot_share"):
        f.one(f"workload.{k}", m[f"workload.{k}"], "count" if k == "cold_queries" else "ratio")
    f.one("driver.py_rss_mb", py_mb, "MB")
    f.one("driver.jvm_rss_mb", jvm_mb, "MB")
    for layer, v in sorted(tr.self_time_by_layer().items()):
        f.one(f"self.{layer}_s", v, "s")
    f.one("trace.overhead_s", tr.overhead_s, "s")
    f.one("trace.measured_wall_s", measured_wall, "s")
    return f


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)

    def log(phase: str) -> None:
        print(f"[{time.time() - args.spawned_at:7.2f} s] {phase}", file=sys.stderr, flush=True)

    run = Run(args)
    t = time.time()
    log("start")
    run.generate()
    gen_s = time.time() - t
    reset_peak_rss()  # the generator's transient peak is not the engine's
    log("inputs generated")
    run.setup()
    # set-up: process start, imports, get_spark, warm_workers, base build
    setup_s = time.time() - args.spawned_at - gen_s
    log("set-up done")
    run.record_index_layout()
    log("index layout recorded")
    t = time.perf_counter()
    run.serve()
    log("serve done")
    run.churn()
    measured_wall = time.perf_counter() - t
    log("churn done")

    from pyspark import SparkContext

    py_mb = peak_rss_mb()
    jvm_mb = peak_rss_mb(SparkContext._gateway.proc.pid)
    run.check_answers()
    log("answers checked")
    found = end_to_end(run, setup_s, py_mb + jvm_mb)
    if args.trace:
        run.layer_probes()
        found.update(per_layer(run, py_mb, jvm_mb, measured_wall))
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"spans-{args.workload}-{args.seed}.json").write_text(json.dumps(run.tr.dump()))
    log("metrics done")
    run.spark.stop()
    log("spark stopped")

    # the metric lists (and which of them a traced run reports) are
    # BENCHMARK.json's; a listed metric this run did not measure is a crash
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for spec in listed:
        value, unit, _ = found[spec["name"]]
        if unit != spec["unit"]:
            raise ValueError(f"{spec['name']}: unit {unit} != {spec['unit']}")
        metrics[spec["name"]] = {"value": value, "unit": unit}
    print(json.dumps({
        "engine": engine_identity(), "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "cpus": run.cpus, "corpus_docs": run.corpus.n_docs,
        "corpus_tokens": int(len(run.corpus.tokens)), "update_rounds": run.mix.rounds,
        "batch_docs": BATCH_DOCS, "measured_wall_s": round(measured_wall, 3),
        "metric_samples": {k: n for k, (_, _, n) in found.items()},
        "failed_op_ratio": run.failed / run.attempted,
        "failures": run.failures[:20], "shape_mix": run.shape_mix,
        "cold_stream": run.cold_bands,
        "engine_env": {k: os.environ[k] for k in PINNED_ENV},
        "unlisted": {k: [v, u] for k, (v, u, _) in found.items() if k not in metrics},
    }))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
