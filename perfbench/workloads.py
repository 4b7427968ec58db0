"""The benchmark's workloads.

Each workload starts the session, prepares its inputs from the seed,
runs passes (``run_pass`` returns the pass's operations and its timed
wall seconds), checks the outputs outside the timed region, and, in a
traced run, wraps the program's layer entry points and reports
per-layer metrics.

``curation`` runs catalog queries, then drains a streaming backlog, in
one session; ``github_snapshot`` runs the daily GitHub job. An
operation is one catalog query (plan build plus collecting the
result), one streaming micro-batch, or one snapshot run over all mock
repos.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from decimal import Decimal

import measure
from gen import documents, write_tables
from ghdata import expected_rows, github_repos

PKG = "github_etl_spark"
# Catalog workloads by the plan modules whose headline queries they run.
CATALOGS = {"curation": frozenset({"ext", "curation", "pipeline", "html"})}
# Headline queries no workload runs, by module and by name. Every run
# starts a fresh JVM, and the run schedule has room for a catalog pass
# of about 20 s beside the streaming drain, most of which goes to
# first-use costs. The catalog keeps three of the queries with the most
# Spark jobs (eager checkpoints, iterative rounds) and the MinHash LSH
# query (signature shuffles), each reported one by one in the traced
# run. It leaves out the relational modules and the curation-module
# queries below. A new headline query in a catalog module joins the
# catalog.
UNMEASURED_MODULES = frozenset({"core", "windows", "dq", "etl"})
UNMEASURED_QUERIES = frozenset({
    "basket_association_rules", "bpe_apply_pinned", "c4_clean",
    "ccnet_perplexity_buckets", "corpus_profile", "dedup_exact", "dedup_incremental",
    "dedup_ngram_jaccard", "dedup_semantic", "dsir_resample", "graph_pagerank",
    "graph_triangle_count", "hh_token_heavy_hitters", "html_extract_text",
    "kmeans_lloyd_stats", "mm_embed_text",
    "pipeline_filter_dedup_split", "pipeline_html_to_split", "pipeline_web_curation",
    "quality_decile_binning", "quantile_sketch_bottomk", "search_bm25_topk",
    "shards_manifest", "sim_bruteforce_topk", "sim_ivf_topk", "span_dedup",
    "text_bigram_logprob", "text_repetition", "tokenize_encode",
    "unigram_segment_pinned", "wordpiece_encode_pinned",
})
# Queries reported one by one in the traced run.
TRACKED_QUERIES = (
    "pipeline_pretraining_e2e", "pipeline_rag_retrieval", "dedup_cluster_canonical",
    "dedup_minhash_lsh",
)
SNAPSHOT_TABLES = ("pull_requests", "commits", "reviewers", "comments")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A
    metric that does not apply to a workload reads 0 there.

    ``mem.peak_rss_mb`` is the peak resident memory of the run's
    process tree (driver Python, JVM, Python workers); the JVM runs
    with the program's own heap setting, so it moves with when the
    collector grows the heap, too much from run to run for an
    end-to-end bound.

    Which end-to-end metric each layer should move, and where:
    ``session.start_s`` moves setup_s on both workloads; ``session.ckpt_*``
    moves run_s on curation and is about 0 on github_snapshot.
    ``plans.*``, ``exec.*`` and ``query.*`` (the catalog part) and
    ``stream.*``, ``incremental.*``, ``curation.*``, ``gate.*`` and
    ``store.mb`` (the streaming part) move run_s on curation;
    ``stream.batch_p50_s`` is the median micro-batch
    ``triggerExecution``. ``github.*``, ``etl.*`` and ``sinks.*`` move
    run_s on github_snapshot; ``etl.transform_plan_s`` is the time to
    build the transform's lazy plans, whose execution runs inside
    ``sinks.load_s``. ``spark.*`` moves run_s on both;
    ``spark.failed_tasks`` moves ok_frac and ``spark.gc_s`` mem.peak_rss_mb.
    ``scratch.left_mb`` is disk the run leaves behind; ``trace.*`` is
    the traced run's own run_s and its overhead."""
    units = {
        "mem.peak_rss_mb": "MB",
        "session.start_s": "s", "session.ckpt_calls": "count", "session.ckpt_s": "s",
        "plans.build_s": "s", "plans.build_jobs": "count", "exec.s": "s", "exec.jobs": "count",
    }
    for q in TRACKED_QUERIES:
        units[f"query.{q}.s"] = "s"
        units[f"query.{q}.jobs"] = "count"
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_s": "s", "spark.sched_delay_s": "s", "spark.core_busy_frac": "frac",
        "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
        "spark.gc_s": "s", "spark.python_mb": "MB", "spark.failed_tasks": "count",
    })
    for e in ("pulls", "pull_commits", "commit", "reviews", "comments"):
        units[f"github.calls.{e}"] = "count"
    units.update({
        "github.calls_per_pr": "count", "github.retries": "count",
        "github.inflight_mean": "count", "github.scan_s": "s",
        "etl.transform_plan_s": "s",
    })
    for t in SNAPSHOT_TABLES:
        units[f"etl.rows.{t}"] = "count"
    units.update({
        "sinks.load_s": "s", "sinks.files_written": "count", "sinks.bytes_mb": "MB",
        "sinks.write_amp": "ratio",
        "stream.batches": "count", "stream.add_batch_s": "s", "stream.commit_s": "s",
        "stream.get_batch_s": "s", "stream.batch_first_s": "s", "stream.batch_last_s": "s",
        "stream.batch_p50_s": "s",
        "incremental.check_s": "s", "incremental.append_s": "s", "curation.span_append_s": "s",
        "gate.pass_frac": "frac", "gate.new_frac": "frac", "store.mb": "MB",
        "scratch.left_mb": "MB",
        "trace.run_s": "s", "trace.overhead_s": "s", "trace.ref_runs": "count",
    })
    return units


def catalog_membership() -> dict[str, list[str]]:
    """Headline queries of each catalog workload, by defining module.
    Every headline query's module must be claimed exactly once, by a
    catalog workload or as unmeasured, so a query in a new module
    cannot drop out of the benchmark unnoticed; every name in
    ``UNMEASURED_QUERIES`` must be a headline query of a catalog
    module."""
    from github_etl_spark.plans import QUERIES

    homes_of = {**CATALOGS, "unmeasured": UNMEASURED_MODULES}
    out: dict[str, list[str]] = {w: [] for w in homes_of}
    skipped = set()
    for name, q in sorted(QUERIES.items()):
        if not q.headline:
            continue
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        homes = [w for w, mods in homes_of.items() if mod in mods]
        if len(homes) != 1:
            raise SystemExit(
                f"perfbench: headline query {name!r} (module {q.fn.__module__}) is "
                f"claimed {len(homes)} times; add its module to one set in workloads.py"
            )
        if name in UNMEASURED_QUERIES and homes[0] in CATALOGS:
            skipped.add(name)
            out["unmeasured"].append(name)
        else:
            out[homes[0]].append(name)
    stale = UNMEASURED_QUERIES - skipped
    if stale:
        raise SystemExit(f"perfbench: UNMEASURED_QUERIES names no catalog headline query: {sorted(stale)}")
    return out


def _op(name: str, s: float, ok: bool = True, error: str | None = None, **extra) -> dict:
    return {"name": name, "s": s, "ok": ok, "error": error, **extra}


class Workload:
    """Subclasses add ``prepare(rep)``, which makes the inputs from the
    seed (called ``SETUP_REPS`` times), ``run_pass(i)``, which returns
    one pass's operations and its timed wall seconds, and
    ``check(ops)``, which marks the operations whose output is wrong."""

    min_passes = 1

    def __init__(self, name: str, seed: int, work: str, cpus: int, tracer):
        self.name, self.seed, self.work, self.cpus, self.tracer = name, seed, work, cpus, tracer
        self.spark = None

    def start_session(self):
        """The engine's own session builder."""
        from github_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        return self.spark

    def job_group(self, group: str) -> None:
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(group, group)

    def span(self, name: str, group: str | None = None):
        """A traced span around a layer call whose Spark jobs go to job
        group ``group``; nothing in an untraced run."""
        if self.tracer is None:
            return contextlib.nullcontext()
        if group is not None:
            self.job_group(group)
        return self.tracer.span(name, group=group)

    def warm_up(self) -> None:
        """Once, after the last prepare, still inside set-up."""

    def install_wrappers(self) -> None:
        from github_etl_spark import session

        self.tracer.wrap_everywhere(PKG, session.eager_checkpoint, "ckpt")
        self.wrap_layers()

    def wrap_layers(self) -> None:
        """Wrap the entry points of the layers this workload drives."""

    def layer_metrics(self, ops: list[dict], passes: list[float], since: float,
                      groups: dict[str, dict]) -> dict:
        """Per-layer metrics, per measured pass; ``groups`` is the
        event-log ledger keyed by Spark job group."""
        calls, secs = self.tracer.total("ckpt", since)
        return {"session.ckpt_calls": calls / len(passes), "session.ckpt_s": secs / len(passes),
                **self.part_metrics(ops, passes, since, groups)}

    def part_metrics(self, ops, passes, since, groups) -> dict:
        """The metrics of the layers this workload drives."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- catalogs


def _cell(v):
    """Canonical cell: numbers and booleans as floats rounded to 9 places, every
    null (None, NaN, NaT) as None, timestamps and dates as naive ISO
    datetimes, arrays as tuples."""
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    if isinstance(v, (int, float, Decimal, np.integer, np.floating, np.bool_)):
        f = float(v)
        return round(f, 9) if math.isfinite(f) else repr(f)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def canonical(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows with columns in that order, sorted)."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].astype(object).itertuples(index=False)]
    return cols, sorted(rows, key=repr)


class Catalog(Workload):
    """The headline queries of one catalog workload, each built with
    ``QUERIES[name].fn(spark, sf_dir)`` and collected with
    ``toPandas()`` (the result is what gets checked)."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.names = catalog_membership()[self.name]
        self.sf_dir = None

    def prepare(self, rep: int) -> None:
        self.sf_dir = write_tables(self.seed, os.path.join(self.work, "data", f"sf{rep}"))

    def run_pass(self, i: int) -> tuple[list[dict], float]:
        from github_etl_spark.plans import QUERIES

        ops = []
        t_pass = time.perf_counter()
        for name in self.names:
            t0 = time.perf_counter()
            try:
                with self.span(name):
                    with self.span("build", f"{name}|build"):
                        df = QUERIES[name].fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with self.span("exec", f"{name}|exec"):
                        pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed query is a failed operation
                ops.append(_op(name, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"[:500]))
                continue
            ops.append(_op(name, t2 - t0, build_s=t1 - t0, exec_s=t2 - t1, result=pdf))
        return ops, time.perf_counter() - t_pass

    def check(self, ops: list[dict]) -> None:
        """Queries with an oracle: same columns and the same multiset of
        canonical rows as the DuckDB oracle over the same parquet files.
        Rows-only queries: a non-empty result, the same rows on every
        pass."""
        import duckdb

        from github_etl_spark.plans import QUERIES
        from github_etl_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        expected: dict[str, tuple] = {}
        for op in ops:
            pdf = op.pop("result", None)
            if pdf is None:
                continue
            got = canonical(pdf)
            op["rows"] = len(got[1])
            sql = QUERIES[op["name"]].oracle
            if op["name"] not in expected:
                if sql is None:
                    expected[op["name"]] = got
                    if not got[1]:
                        op["ok"], op["error"] = False, "rows-only query returned no rows"
                    continue
                expected[op["name"]] = canonical(con.execute(sql).fetch_df())
            want = expected[op["name"]]
            if got != want:
                op["ok"] = False
                op["error"] = (
                    f"columns {got[0]} vs {want[0]}" if got[0] != want[0]
                    else f"rows {len(got[1])} vs {len(want[1])} or values differ"
                )
        con.close()

    def part_metrics(self, ops, passes, since, groups):
        n = len(passes)
        out = {
            "plans.build_s": sum(op.get("build_s", 0.0) for op in ops) / n,
            "exec.s": sum(op.get("exec_s", 0.0) for op in ops) / n,
            "plans.build_jobs": sum(r["jobs"] for g, r in groups.items() if g.endswith("|build")) / n,
            "exec.jobs": sum(r["jobs"] for g, r in groups.items() if g.endswith("|exec")) / n,
        }
        for q in TRACKED_QUERIES:
            if q in self.names:
                out[f"query.{q}.s"] = sum(op["s"] for op in ops if op["name"] == q) / n
                out[f"query.{q}.jobs"] = sum(
                    r["jobs"] for g, r in groups.items() if g.split("|")[0] == q
                ) / n
        return out


# ---------------------------------------------------------------- GitHub


class GithubSnapshot(Workload):
    """The daily job: ``etl.cli.main`` with ``SNAPSHOT_FORCE=1`` over
    three mock repos of uneven size. The warm-up lands the snapshot
    once; every pass is a forced re-run of it, checked against the
    generator's row counts and against the warm-up's tables. The first
    re-run is still warming up, and single passes vary by a quarter
    from run to run, so a run makes three."""

    min_passes = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.repos = github_repos(self.seed)
        self.expected = expected_rows(self.seed)
        self.server = None
        self.url = None
        self.sink = os.path.join(self.work, "snapshot")
        self.reference: dict | None = None
        self.stats: list[dict] = []

    def _stop_server(self) -> None:
        if self.server is not None:
            self.server.stdin.close()
            self.server.wait(timeout=30)
            self.server.stdout.close()
            self.server = None

    def prepare(self, rep: int) -> None:
        self._stop_server()
        here = os.path.dirname(os.path.abspath(__file__))
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(here, "mockgh.py"), "--seed", str(self.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.server.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"mock GitHub server did not start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"
        self._get("/__stats")

    def warm_up(self) -> None:
        from github_etl_spark.etl import cli

        cli.main(env=self._env(), spark=self.spark)
        self.reference = self._read_tables()

    def _env(self) -> dict:
        return {
            "GITHUB_REPOS": ",".join(self.repos),
            "SNAPSHOT_BASE": self.sink,
            "GITHUB_API_URL": self.url,
            "SNAPSHOT_DATE": "2026-10-01",
            "SNAPSHOT_FORCE": "1",
        }

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=30) as r:
            return json.loads(r.read())

    def run_pass(self, i: int) -> tuple[list[dict], float]:
        from github_etl_spark.etl import cli

        env = self._env()
        self._get("/__reset")
        self._boundary = time.perf_counter()
        t0 = time.perf_counter()
        try:
            with self.span("snapshot", f"{next(iter(self.repos))}|scan"):
                cli.main(env=env, spark=self.spark)
            op = _op("snapshot", time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 - a failed run is a failed operation
            op = _op("snapshot", time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"[:500])
        wall = time.perf_counter() - t0
        self.stats.append(self._get("/__stats"))
        if op["ok"]:
            op["tables"] = self._read_tables()
        return [op], wall

    def _read_tables(self) -> dict[str, dict]:
        """Per table: row count per repo and a hash of all rows."""
        import pyarrow.dataset as ds

        out = {}
        for t in SNAPSHOT_TABLES:
            tab = ds.dataset(os.path.join(self.sink, t), format="parquet",
                             partitioning="hive").to_table()
            pdf = tab.to_pandas()
            per_repo = pdf.groupby("target_repository").size() if len(pdf) else {}
            _cols, rows = canonical(pdf)
            out[t] = {
                "per_repo": sorted(int(n) for n in dict(per_repo).values()),
                "hash": hashlib.sha1(repr(rows).encode()).hexdigest(),
            }
        return out

    def check(self, ops):
        """Row counts equal the generator's, per repo; every forced
        re-run leaves the tables identical to the warm-up's."""
        for op in ops:
            if not op["ok"]:
                continue
            tables = op.pop("tables")
            for t in SNAPSHOT_TABLES:
                want = sorted(self.expected[r][t] for r in self.repos)
                if tables[t]["per_repo"] != want:
                    op["ok"], op["error"] = False, f"{t} rows per repo {tables[t]['per_repo']} != {want}"
            if any(tables[t]["hash"] != self.reference[t]["hash"] for t in SNAPSHOT_TABLES):
                op["ok"], op["error"] = False, "forced re-run changed the tables"
            op["rows"] = {t: sum(tables[t]["per_repo"]) for t in SNAPSHOT_TABLES}

    def wrap_layers(self):
        """Time ``transform`` where the pipeline binds it and
        ``SnapshotSink.load``; a repo's scan runs from the previous
        repo's load (or the run start) to its ``transform`` call. Each
        step's Spark jobs go to a ``<repo>|scan`` or ``<repo>|load``
        job group. ``transform`` only builds lazy plans: their
        execution is part of the load step."""
        from github_etl_spark.sinks.snapshot import SnapshotSink
        from github_etl_spark.streaming import pipeline

        repos = list(self.repos)

        def at_transform(prs, repo, *a, **kw):
            self.tracer.spans.append({"name": "scan", "parent": "snapshot", "repo": repo,
                                      "start": self._boundary, "end": time.perf_counter()})
            self.job_group(f"{repo}|load")

        def after_load(sink, tables, repo, *a, **kw):
            self._boundary = time.perf_counter()
            k = repos.index(repo) + 1
            if k < len(repos):
                self.job_group(f"{repos[k]}|scan")

        self.tracer.wrap(pipeline, "transform", "transform", before=at_transform)
        self.tracer.wrap(SnapshotSink, "load", "load", after=after_load)

    def part_metrics(self, ops, passes, since, groups):
        out = {}
        n = len(self.stats)
        prs = sum(self.repos.values())
        calls = {e: sum(s["calls"][e] for s in self.stats) / n for e in self.stats[0]["calls"]}
        for e, v in calls.items():
            out[f"github.calls.{e}"] = v
        out["github.calls_per_pr"] = sum(calls.values()) / prs
        out["github.retries"] = sum(s["retries"] for s in self.stats) / n
        out["github.inflight_mean"] = statistics.mean(s["inflight_mean"] for s in self.stats)
        out["github.scan_s"] = self.tracer.total("scan", since)[1] / n
        out["etl.transform_plan_s"] = self.tracer.total("transform", since)[1] / n
        out["sinks.load_s"] = self.tracer.total("load", since)[1] / n
        rows = next((op["rows"] for op in ops if op.get("rows")), {})
        for t in SNAPSHOT_TABLES:
            out[f"etl.rows.{t}"] = rows.get(t, 0)
        files, size = measure.dir_bytes(self.sink, ".parquet")
        out["sinks.files_written"] = files
        out["sinks.bytes_mb"] = size / 2**20
        served = statistics.mean(s["bytes"] for s in self.stats)
        out["sinks.write_amp"] = size / served if served else 0.0
        return out

    def close(self):
        self._stop_server()


# ---------------------------------------------------------------- streaming

# Documents with doc_id % STREAM_SPLIT == STREAM_SPLIT - 1 are the
# curated seed slice the stores are built from; the others land as one
# JSON file per micro-batch, batch b holding doc_id % STREAM_SPLIT == b.
STREAM_SPLIT = 3
# A drain that takes longer has hung; the run must end within 180 s.
STREAM_TIMEOUT_S = 90


class StreamIngest(Workload):
    """``streaming.pretrain_gate.stream_pretrain_gated`` drains, with
    ``availableNow`` and one file per trigger, a landing backlog of JSON
    micro-batches cut from the seeded documents. The dedup index and
    span store are built from the seed slice in set-up; each pass
    starts from a fresh copy of them, so every pass ingests the same
    backlog against the same stores, and every batch reads what the
    earlier batches of its pass wrote."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.root = os.path.join(self.work, "stream")
        self.stores = os.path.join(self.root, "stores")
        self.landing = self.seed_path = None
        self.progress: list[list[dict]] = []
        self.gate_fracs = (0.0, 0.0)
        self.store_bytes = 0

    def prepare(self, rep: int) -> None:
        import pyarrow.parquet as pq

        docs = documents(self.seed).select(["doc_id", "text"])
        part = [i % STREAM_SPLIT for i in docs["doc_id"].to_pylist()]
        d = os.path.join(self.root, f"input{rep}")
        self.landing = os.path.join(d, "landing")
        self.seed_path = os.path.join(d, "seed.parquet")
        os.makedirs(self.landing, exist_ok=True)
        pq.write_table(docs.filter([p == STREAM_SPLIT - 1 for p in part]), self.seed_path)
        rows = docs.to_pylist()
        for b in range(STREAM_SPLIT - 1):
            path = os.path.join(self.landing, f"ingest-{b}.json")
            with open(path, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r, p in zip(rows, part) if p == b)
            # Strictly increasing mtimes: the file source takes files in
            # mtime order, so batch b is file b.
            os.utime(path, (1_700_000_000 + 60 * b,) * 2)

    def warm_up(self) -> None:
        from github_etl_spark.operators.curation import span_index_build
        from github_etl_spark.operators.incremental import dedup_index_build

        seed = self.spark.read.parquet(self.seed_path)
        dedup_index_build(seed, os.path.join(self.stores, "index"))
        span_index_build(seed, os.path.join(self.stores, "spans"))

    def run_pass(self, i: int) -> tuple[list[dict], float]:
        from github_etl_spark.streaming.pretrain_gate import stream_pretrain_gated

        d = os.path.join(self.root, f"pass{i}")
        shutil.copytree(self.stores, d)
        out = os.path.join(d, "published")
        t0 = time.perf_counter()
        try:
            with self.span("stream"):
                q = stream_pretrain_gated(
                    self.spark, self.landing, os.path.join(d, "index"), os.path.join(d, "spans"),
                    out, os.path.join(d, "checkpoint"), max_files_per_trigger=1,
                )
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    q.stop()
                    raise TimeoutError(f"backlog not drained in {STREAM_TIMEOUT_S} s")
        except Exception as e:  # noqa: BLE001 - a failed stream fails the pass
            wall = time.perf_counter() - t0
            return [_op("stream", wall, False, f"{type(e).__name__}: {e}"[:500])], wall
        wall = time.perf_counter() - t0
        progress = [dict(p) for p in q.recentProgress if p["numInputRows"] > 0]
        self.progress.append(progress)
        pub = self.spark.read.parquet(out).toPandas()
        ops = [
            _op(f"batch{p['batchId']}", p["durationMs"]["triggerExecution"] / 1000.0,
                result=pub[pub["ingest_batch"] == p["batchId"]].drop(columns="ingest_batch"))
            for p in progress
        ]
        if len(ops) != STREAM_SPLIT - 1:
            ops.append(_op("batches", 0.0, False, f"{len(progress)} micro-batches, want {STREAM_SPLIT - 1}"))
        passed = pub["passed_gate"].astype(bool)
        self.gate_fracs = (passed.mean(), (pub["verdict"] == "new").sum() / max(passed.sum(), 1))
        self.store_bytes = measure.dir_bytes(os.path.join(d, "index"))[1] + measure.dir_bytes(
            os.path.join(d, "spans"))[1]
        return ops, wall

    def check(self, ops: list[dict]) -> None:
        """Each micro-batch's published verdicts equal
        ``pretrain_fold_verdicts`` over the same seed slice and batches."""
        from github_etl_spark.streaming.pretrain_gate import DOC_SCHEMA, pretrain_fold_verdicts

        seed = self.spark.read.parquet(self.seed_path)
        batches = [
            (str(b), self.spark.read.schema(DOC_SCHEMA).json(os.path.join(self.landing, f"ingest-{b}.json")))
            for b in range(STREAM_SPLIT - 1)
        ]
        fold = pretrain_fold_verdicts(seed, batches).toPandas()
        want = {tag: canonical(g.drop(columns="ingest")) for tag, g in fold.groupby("ingest")}
        for op in ops:
            pdf = op.pop("result", None)
            if pdf is None:
                continue
            got = canonical(pdf)
            op["rows"] = len(got[1])
            if got != want.get(op["name"].removeprefix("batch")):
                op["ok"], op["error"] = False, "published verdicts differ from the fold"

    def wrap_layers(self) -> None:
        """Time the store probes and appends where ``pretrain_gate``
        binds them, and give each micro-batch's Spark jobs a
        ``batch<id>`` job group."""
        from github_etl_spark.streaming import pretrain_gate

        self.tracer.wrap(pretrain_gate, "dedup_index_check", "incremental.check")
        self.tracer.wrap(pretrain_gate, "dedup_index_append", "incremental.append")
        self.tracer.wrap(pretrain_gate, "span_index_append", "curation.span_append")
        make = pretrain_gate.make_pretrain_gate

        def traced_make(*a, **kw):
            gate = make(*a, **kw)

            def traced_gate(batch_df, batch_id):
                with self.span("batch", f"batch{batch_id}"):
                    return gate(batch_df, batch_id)

            return traced_gate

        self.tracer.patch(pretrain_gate, "make_pretrain_gate", traced_make)

    def part_metrics(self, ops, passes, since, groups):
        out = {}
        n = len(self.progress)
        if not n:
            return out

        def dur(p, *keys):
            return sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0

        batches = [p for run in self.progress for p in run]
        out["stream.batches"] = len(batches) / n
        out["stream.add_batch_s"] = sum(dur(p, "addBatch") for p in batches) / n
        out["stream.commit_s"] = sum(dur(p, "walCommit", "commitOffsets") for p in batches) / n
        out["stream.get_batch_s"] = sum(dur(p, "getBatch") for p in batches) / n
        out["stream.batch_first_s"] = statistics.mean(dur(r[0], "triggerExecution") for r in self.progress)
        out["stream.batch_last_s"] = statistics.mean(dur(r[-1], "triggerExecution") for r in self.progress)
        out["stream.batch_p50_s"] = statistics.median(dur(p, "triggerExecution") for p in batches)
        for span, key in (("incremental.check", "incremental.check_s"),
                          ("incremental.append", "incremental.append_s"),
                          ("curation.span_append", "curation.span_append_s")):
            out[key] = self.tracer.total(span, since)[1] / n
        out["gate.pass_frac"], out["gate.new_frac"] = self.gate_fracs
        out["store.mb"] = self.store_bytes / 2**20
        return out


# ---------------------------------------------------------------- curation


class Curation(Workload):
    """The curation side of the engine in one session: each pass runs
    the catalog's queries, then drains the streaming backlog. The parts
    keep their own inputs, checks, wrappers and per-layer metrics; the
    session start is shared, which is what lets both fit the run
    schedule."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.parts = (Catalog(*a, **kw), StreamIngest(*a, **kw))

    def start_session(self):
        spark = super().start_session()
        for part in self.parts:
            part.spark = spark
        return spark

    def prepare(self, rep: int) -> None:
        for part in self.parts:
            part.prepare(rep)

    def warm_up(self) -> None:
        for part in self.parts:
            part.warm_up()

    def run_pass(self, i: int) -> tuple[list[dict], float]:
        ops, wall = [], 0.0
        for k, part in enumerate(self.parts):
            part_ops, part_wall = part.run_pass(i)
            ops += [{**op, "part": k} for op in part_ops]
            wall += part_wall
        return ops, wall

    def check(self, ops: list[dict]) -> None:
        for k, part in enumerate(self.parts):
            part.check([op for op in ops if op["part"] == k])

    def wrap_layers(self) -> None:
        for part in self.parts:
            part.wrap_layers()

    def part_metrics(self, ops, passes, since, groups):
        out = {}
        for k, part in enumerate(self.parts):
            out.update(part.part_metrics([op for op in ops if op["part"] == k], passes, since, groups))
        return out

    def close(self) -> None:
        for part in self.parts:
            part.close()


WORKLOADS = {"curation": Curation, "github_snapshot": GithubSnapshot}


def make(name: str, **kw) -> Workload:
    return WORKLOADS[name](name, **kw)
