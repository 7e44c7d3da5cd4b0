"""The benchmark's workloads: generated inputs, set-up, the timed unit and
the output checks, plus the closed loop that times them.

One client runs one job at a time; each timed unit starts after the previous
one ended and its output was checked.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from perfbench import inputs, trace

NPROC = len(os.sched_getaffinity(0))
MIN_P_R = 0.95  # triple precision / recall gate against the refimpl oracle
# timed units per run, at least: a median of three discards one unit hit by
# a burst of load from other tenants of the host
MIN_UNITS = 3


def host_settings(work: str) -> dict:
    """Session settings fitted to this host: every core, a quarter of RAM
    (at most 2 GiB, ample for these inputs) for the driver heap, Spark
    scratch under the run's work dir. The heap is committed at start
    (-Xms = -Xmx) and touched (-XX:+AlwaysPreTouch), so resident memory does
    not depend on how much of the heap the run has reached."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    return {
        "cores": NPROC,
        "driver_mem_mb": min(2048, total_mb // 4),
        "local_dirs": os.path.join(work, "spark-local"),
        "host_mem_mb": total_mb,
    }


class Session:
    """The benchmark's SparkSession on local[nproc]. The restart for the
    traced unit swaps the SparkContext inside the same JVM, so the JIT stays
    warm."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.settings = host_settings(work)
        os.makedirs(self.settings["local_dirs"], exist_ok=True)
        # read by the JVM launch and by session.get_spark
        os.environ["SPARK_LOCAL_DIRS"] = self.settings["local_dirs"]
        os.environ["SPARK_DRIVER_MEM"] = f"{self.settings['driver_mem_mb']}m"
        self.spark = None
        self.event_log_dir: str | None = None

    def start(self, event_log: bool = False):
        from mannheimsearchjoinsengine_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.settings['driver_mem_mb']}m -XX:+AlwaysPreTouch"
            ),
        }
        if event_log:
            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.dir": self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", cores=NPROC, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart_with_event_log(self):
        self.spark.stop()
        return self.start(event_log=True)

    def event_log_path(self) -> str:
        app = self.spark.sparkContext.applicationId
        return os.path.join(self.event_log_dir, app)

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit (it exits when its stdin,
        held by this process, closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def describe(spark, name: str) -> None:
    spark.sparkContext.setJobDescription(trace.BENCH_PREFIX + name)


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and all its
    descendants: the driver JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0
                )
        except OSError:
            pass
    return total_kb / 1024


TRIPLE_COLS = ("subj", "pred", "obj", "obj_dtype")


def triple_set(df) -> set[tuple[str, str, str, str]]:
    return {tuple(r) for r in df.select(*TRIPLE_COLS).collect()}


def triple_digest(df) -> tuple[int, str]:
    """Order-independent digest of the triple set, computed in one small
    job: row count and the exact sum of per-row 64-bit hashes."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r.n, str(r.h)


def dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class WideFuzzy:
    """``run_pipeline`` with the fuzzy canonical tier and a cold ledger, over
    many distinct subjects: clusters is the longest stage and resolved lies
    on the critical path (cells → pred_merge_map → resolved → triples)."""

    turns = 30_000
    # a vocabulary large enough that nearly every entity a conversation
    # draws is new
    entities = 10_000
    # the first unit in a fresh JVM takes about twice as long (codegen, JIT);
    # the second is still 10-15 % slower than the third, so a second untimed
    # unit keeps the median of the timed ones off that slope
    warmup_runs = 2
    # the stages a crash before ``resolved`` leaves unbuilt; the ledger
    # fingerprint is input-only, so all three must go for a clean resume
    tail = ("resolved", "pred_dtypes", "triples")

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "input", "transcripts.parquet")
        self.digest: tuple[int, str] | None = None
        self.quality: dict[str, float] = {}
        self.last_root: str | None = None
        self.spans = trace.Spans()

    def prepare(self) -> None:
        """Input and oracle triples; untimed, outside set-up."""
        from mannheimsearchjoinsengine_spark.refimpl import oracle

        table = inputs.wide_transcripts(self.seed, self.turns, self.entities)
        inputs.write_parquet(table, self.input)
        self.n_turns = table.num_rows
        self.input_bytes = os.path.getsize(self.input)
        self.expected = oracle.triples(self.input, fuzzy=True)

    def run_pipeline(self, spark, root: str) -> float:
        from mannheimsearchjoinsengine_spark.plans.pipeline import run_pipeline

        describe(spark, "run_pipeline")
        t0 = time.perf_counter()
        out = run_pipeline(
            spark,
            os.path.dirname(self.input),
            checkpoint_root=root,
            input_path=self.input,
            fuzzy_canonical=True,
        )
        # the triples stage left its label on this thread
        describe(spark, "count_triples")
        out["triples"].count()
        wall = time.perf_counter() - t0
        self.triples = out["triples"]
        return wall

    def warm(self, spark) -> None:
        for i in range(self.warmup_runs):
            log(f"warm-up unit {i + 1}: {self.unit(spark):.3f} s")
            self.check(spark)
            self.after_unit()

    def unit(self, spark) -> float:
        """One cold-ledger pipeline run to a counted triple table."""
        self.last_root = tempfile.mkdtemp(prefix="ledger-", dir=self.work)
        return self.run_pipeline(spark, self.last_root)

    def check(self, spark) -> None:
        """Every run's triples hash the same as the first run's, whose set
        meets the P/R gate."""
        describe(spark, "check")
        digest = triple_digest(self.triples)
        if self.digest is None:
            self.digest = digest
            got = triple_set(self.triples)
            tp = len(got & self.expected)
            self.quality = {
                "precision": tp / len(got) if got else 0.0,
                "recall": tp / len(self.expected) if self.expected else 0.0,
            }
        if digest != self.digest:
            raise AssertionError("triple set differs from the first run's")
        if min(self.quality.values()) < MIN_P_R:
            raise AssertionError(f"triple quality below {MIN_P_R}: {self.quality}")

    def after_unit(self) -> None:
        shutil.rmtree(self.last_root, ignore_errors=True)

    def final_check(self) -> None:
        pass  # every unit is checked as it ends

    def traced_extras(self, spark) -> dict[str, float]:
        """Layer figures beyond the traced run's spans and event log:
        ledger rows and bytes, the fuzzy tier's yield, and a resume of the
        traced ledger after a crash before the tail."""
        m = catalog_metrics(self.last_root, self.spans, self.input_bytes)
        m.update(self.lsh_yield(spark))
        m.update(self.resume_tail(spark))
        return m

    def lsh_yield(self, spark) -> dict[str, float]:
        """Useful/attempted ratio of the fuzzy tier: LSH candidate pairs over
        the traced run's materialized labels, and how many verify."""
        from mannheimsearchjoinsengine_spark.operators.canonical import minhash_candidate_pairs
        from mannheimsearchjoinsengine_spark.operators.fuzzy import verify_candidate_pairs

        describe(spark, "lsh_yield")
        labels = (
            spark.read.parquet(os.path.join(self.last_root, "clusters"))
            .select("subj_norm")
            .localCheckpoint()
        )
        cand = minhash_candidate_pairs(labels).localCheckpoint()
        n_cand = cand.count()
        n_ver = verify_candidate_pairs(cand, labels).count()
        return {
            "canonical.lsh_candidates": n_cand,
            "canonical.lsh_verified": n_ver,
            "canonical.lsh_yield": n_ver / n_cand if n_cand else 0.0,
        }

    def resume_tail(self, spark) -> dict[str, float]:
        """Drop the tail's ledger entries and directories, re-run, and check
        the resumed triples equal the cold run's."""
        path = os.path.join(self.last_root, "_ledger.json")
        with open(path) as f:
            entries = json.load(f)
        for s in self.tail:
            entries.pop(s, None)
            shutil.rmtree(os.path.join(self.last_root, s), ignore_errors=True)
        with open(path, "w") as f:
            json.dump(entries, f)
        spans = trace.Spans()
        with trace.ledger_spans(spans):
            wall = self.run_pipeline(spark, self.last_root)
        self.check(spark)
        resumed = [b - a for a, b, at in spans.named("stage:").values() if at["resumed"]]
        return {
            "catalog.resume_wall_s": wall,
            "catalog.resumed_stages": len(resumed),
            "catalog.resume_check_s": sum(resumed),
        }


class OperatorQueries:
    """The contract queries off the pipeline path, each to a noop sink."""

    transcripts = 3_000
    docs = 250
    vecs = 48
    # after the collecting pass, each of the next three or four passes is
    # still 5-10 % faster than the one before (JIT); one untimed pass more
    # keeps the median of the timed ones off the steepest part of that slope
    warmup_runs = 1

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        # the tag only names the transcript cache dir; the file is written
        # here, so datagen never synthesizes its own
        self.sf_dir = os.path.join(work, "sf", "sf0.01")
        self.results: dict = {}
        self.quality: dict[str, float] = {}
        self.spans = trace.Spans()

    def prepare(self) -> None:
        from mannheimsearchjoinsengine_spark import datagen
        from mannheimsearchjoinsengine_spark.driver_contract import build_contract

        t = inputs.narrow_transcripts(self.seed, self.transcripts)
        inputs.write_parquet(t, datagen.transcripts_path(self.sf_dir))
        inputs.write_parquet(
            inputs.documents(self.seed, self.docs), os.path.join(self.sf_dir, "documents.parquet")
        )
        inputs.write_parquet(
            inputs.embeddings(self.seed, self.vecs), os.path.join(self.sf_dir, "embeddings.parquet")
        )
        self.n_turns = t.num_rows
        queries, oracles = build_contract(self.sf_dir)
        self.queries = {q: queries[q] for q in trace.QUERIES}
        self.oracles = {q: oracles[q] for q in trace.QUERIES}

    def warm(self, spark) -> None:
        """One pass that collects every result for the oracle check, then
        ``warmup_runs`` untimed passes."""
        for q, fn in self.queries.items():
            describe(spark, q)
            self.results[q] = fn(spark, self.sf_dir).toPandas()
        for i in range(self.warmup_runs):
            log(f"warm-up pass {i + 1}: {self.unit(spark):.3f} s")

    def unit(self, spark) -> float:
        """One pass over the queries."""
        t0 = time.perf_counter()
        for q, fn in self.queries.items():
            describe(spark, q)
            with self.spans.span(f"query:{q}"):
                fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check(self, spark) -> None:
        pass  # results are checked once per process, see final_check

    def after_unit(self) -> None:
        pass

    def final_check(self) -> None:
        """Each collected result equals its DuckDB twin."""
        import duckdb

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        bad = [q for q in self.queries if not frames_equal(self.results[q], con.execute(self.oracles[q]).df())]
        con.close()
        if bad:
            raise AssertionError(f"results differ from the DuckDB oracle: {bad}")
        if not any(len(df) for df in self.results.values()):
            raise AssertionError("every query returned no rows")
        self.quality = {"precision": 1.0, "recall": 1.0}

    def traced_extras(self, spark) -> dict[str, float]:
        return {}


def frames_equal(a, b) -> bool:
    """Same columns and the same multiset of rows (order-insensitive), with
    the dtype canonicalization of tests/test_queries_vs_duckdb.py."""
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False

    def canon(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
            elif pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype(bool)
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    return canon(a).equals(canon(b))


WORKLOADS = {"wide_fuzzy": WideFuzzy, "operator_queries": OperatorQueries}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def timed_loop(wl, spark, seconds: float) -> tuple[list[float], int]:
    """Timed units until ``seconds`` have passed and at least ``MIN_UNITS``
    ran; returns the walls of the units that passed their check, and the
    failure count."""
    walls, failed = [], 0
    deadline = time.perf_counter() + seconds
    while len(walls) + failed < MIN_UNITS or time.perf_counter() < deadline:
        try:
            wall = wl.unit(spark)
            wl.check(spark)
            walls.append(wall)
            log(f"unit {len(walls)}: {wall:.3f} s")
        except Exception:
            failed += 1
            traceback.print_exc()
        finally:
            wl.after_unit()
    return walls, failed


def run(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    wl = WORKLOADS[name](work, seed)
    t = time.perf_counter()
    wl.prepare()
    log(f"inputs and oracle: {time.perf_counter() - t:.1f} s")
    session = Session(work)
    print(json.dumps({"settings": session.settings}), flush=True)
    try:
        t = time.perf_counter()
        spark = session.start()
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm(spark)
        warmup_s = time.perf_counter() - t
        log(f"session {start_s:.1f} s, warm-up {warmup_s:.1f} s")
        walls, failed = timed_loop(wl, spark, seconds)
        wall = statistics.median(walls) if walls else 0.0
        if traced:
            metrics = traced_metrics(wl, session, wall, start_s, warmup_s)
        else:
            peak = tree_peak_rss_mb()
        wl.final_check()
    except Exception:
        traceback.print_exc()
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    finally:
        session.close()
    attempted = len(walls) + failed
    correct = failed == 0 and bool(wl.quality)
    if not traced:
        metrics = {
            "wall_s": (wall, "s"),
            "turns_per_s": (wl.n_turns / wall if wall else 0.0, "turns/s"),
            "setup_s": (start_s + warmup_s, "s"),
            "peak_rss_mb": (peak, "MB"),
            "output_precision": (wl.quality.get("precision", 0.0), "ratio"),
            "output_recall": (wl.quality.get("recall", 0.0), "ratio"),
        }
    return {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_metrics(wl, session: Session, base_wall: float, start_s: float, warmup_s: float) -> dict:
    """One more unit with spans and the event log on, after one untraced
    unit in the fresh SparkContext; ``base_wall`` is the untraced wall."""
    specs = trace.per_layer_specs()
    m = {k: 0.0 for k in specs}
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s
    spark = session.restart_with_event_log()
    wl.unit(spark)  # absorbs the context restart; not measured
    wl.check(spark)
    wl.after_unit()

    spans = wl.spans = trace.Spans()
    with trace.ledger_spans(spans):
        t0 = time.time()
        wall = wl.unit(spark)
        t1 = time.time()
    wl.check(spark)
    m.update(wl.traced_extras(spark))
    wl.after_unit()
    log_path = session.event_log_path()
    spark.stop()  # closes the event log
    session.spark = None
    events = trace.EventLog.read(log_path)

    owners, unattributed = trace.attribute_jobs(events, t0, t1)
    for owner, jobs in owners.items():
        tot = events.job_totals(jobs)
        if owner.startswith("stage."):
            m[f"{owner}.exec_cpu_s"] = tot["cpu_s"]
            m[f"{owner}.exec_run_s"] = tot["run_s"]
            m[f"{owner}.gc_s"] = tot["gc_s"]
            m[f"{owner}.shuffle_write_mb"] = tot["shuffle_write_mb"]
            m[f"{owner}.jobs"] = tot["jobs"]
        else:  # query.<q>, pipeline.ingest, pipeline.readback
            m[f"{owner}.exec_cpu_s"] = tot["cpu_s"]
            m[f"{owner}.jobs"] = tot["jobs"]
            if owner.startswith("query."):
                m[f"{owner}.shuffle_write_mb"] = tot["shuffle_write_mb"]
    every = events.job_totals(events.jobs_in(t0, t1))
    span_items = [(a, b) for n, a, b, _ in spans.items]
    stage_spans = spans.named("stage:")
    for s, (a, b, _) in stage_spans.items():
        m[f"stage.{s}.span_s"] = b - a
    for q, (a, b, _) in spans.named("query:").items():
        m[f"query.{q}.wall_s"] = b - a
    shuffles, broadcasts = events.exchanges_in(t0, t1)
    m.update(
        {
            "pipeline.wall_s": t1 - t0,
            "pipeline.driver_overhead_s": (t1 - t0) - trace.union_s(span_items),
            "pipeline.critical_path_s": trace.critical_path_s(
                {s: b - a for s, (a, b, _) in stage_spans.items()}
            ),
            "pipeline.stage_span_sum_s": sum(b - a for a, b in span_items),
            "pipeline.core_busy_frac": every["run_s"] / ((t1 - t0) * NPROC),
            "pipeline.jobs": every["jobs"],
            "pipeline.shuffle_exchanges": shuffles,
            "pipeline.broadcast_exchanges": broadcasts,
            "pipeline.spill_mb": every["spill_mb"],
            "trace.overhead_frac": wall / base_wall - 1 if base_wall else 0.0,
            "trace.unattributed_jobs": unattributed,
        }
    )
    return {k: (m[k], specs[k][0]) for k in specs}


def catalog_metrics(root: str, spans: trace.Spans, input_bytes: int) -> dict[str, float]:
    """Rows per stage from the ledger; bytes and files the rebuilt stages
    wrote, data and lineage."""
    rebuilt = [s for s, (_, _, at) in spans.named("stage:").items() if not at["resumed"]]
    size = files = 0
    for s in rebuilt:
        for d in (s, os.path.join("_lineage", s)):
            b, n = dir_bytes(os.path.join(root, d))
            size, files = size + b, files + n
    with open(os.path.join(root, "_ledger.json")) as f:
        entries = json.load(f)
    out = {f"stage.{s}.rows_out": e["rows"] for s, e in entries.items() if s in trace.STAGE_DEPS}
    out.update(
        {
            "catalog.bytes_written_mb": size / trace.MB,
            "catalog.files_written": files,
            "catalog.rebuilt_stages": len(rebuilt),
            "catalog.ckpt_bytes_per_input_byte": size / input_bytes,
        }
    )
    return out
