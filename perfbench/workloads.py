"""The benchmark's workloads and the loop that times them.

Every workload is a closed loop with one client: the next operation starts
only after the previous one finished. Operation 0 is the *first pass* (the
process has never run this path; ``first_pass_steps`` operations), then
come ``warmup_steps`` untimed operations; the loop then repeats operations
for the run's seconds. A CRM cycle is two operations: the create pass,
whose contacts miss the ID map (``first``), and the update pass over the
same contacts, which hits it (``repeat``); its cycle 0 only warms the
process.

Outputs are recorded during the loop and checked after it, so checking
costs no measured time. ``Outcome.failed`` counts undelivered or wrong
rows, pairs and cursors, and every item of an operation that raised.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.peers import Peer
from perfbench.tracing import RssSampler, SparkProbe, Tracer, cpu_ticks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes for a 4-CPU host and a per-run time budget of under a minute (see
# README): operations short enough that a run's medians rest on several
# samples, since a shared host's noise comes in bursts of seconds.
SIZES = {
    "bulk_sync": {"rows": 25_000, "batch_size": 100, "chunks": 2},
    "trickle_sync": {"history_rows": 1_000_000, "delta_rows": 1_000,
                     "checkpoint_every": 500},
    "crm_upsert": {"per_pass": 250, "cycles": 60, "every": 10},
    "near_dup_ingest": {"batch_docs": 200, "dup_frac": 0.1},
}

#: recall the planted near-duplicates must reach; each planted pair has a
#: 3-shingle Jaccard near 0.9, which 32 bands of 2 rows miss with
#: probability below 1e-20
RECALL_FLOOR = 1.0
NEAR_DUP_THRESHOLD = 0.8


@dataclass
class OpRecord:
    kind: str  # "warmup", "first" or "repeat"
    items: int
    seconds: float
    traced: bool
    jobs: tuple[int, int, int] = (0, 0, 0)
    gc_ms: float = 0.0
    peer: dict = field(default_factory=dict)


@dataclass
class Outcome:
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    evidence: dict
    #: what the checker read, for tests that corrupt it
    raw: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: operation kinds the per-layer means are taken over
    layer_kinds: tuple[str, ...] = ("repeat",)

    def __init__(self, work: str, seed: int, sizes: dict, trace: bool):
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.trace = trace
        self.tracer = Tracer()
        self.records: list[OpRecord] = []
        self.failed = 0
        self.peer: Peer | None = None
        self.probe: SparkProbe | None = None
        self.spark = None
        self.raw: dict = {}

    # --- hooks -----------------------------------------------------------

    def generate(self) -> None:
        """Write the seeded inputs (before Spark starts)."""

    def start_peer(self) -> Peer | None:
        return None

    def register(self, spark) -> None:
        """Register sources: the last step of set-up."""

    #: steps the first pass spans
    first_pass_steps = 1
    #: True when the "first" operations together make one first pass (its
    #: rate is over their summed time); False when each is a pass of its
    #: own, repeated through the run (its rate is over the median one)
    first_is_one_pass = True
    #: untimed operations between the first pass and the repeats, while a
    #: fresh process still speeds up
    warmup_steps = 0

    def step(self, i: int, kind: str) -> None:
        """Run step ``i`` through ``self.timed``; ``kind`` is "first",
        "warmup" or "repeat"."""
        raise NotImplementedError

    def check(self) -> tuple[int, int, dict]:
        """(attempted, failed, evidence) for everything recorded."""
        raise NotImplementedError

    def extra_layer_metrics(self) -> dict[str, float]:
        return {}

    # --- timing ----------------------------------------------------------

    def timed(self, kind: str, items: int, fn) -> bool:
        """Run one operation; False when it raised (its items fail)."""
        same = sum(1 for r in self.records if r.kind == kind)
        traced = self.trace and same % 2 == 0
        before = self._probe_state() if traced else None
        if traced:
            self.probe.jobs_since_last()  # drop jobs of untraced operations
        op = len(self.records)
        ok = True
        t0 = time.perf_counter()
        try:
            with self.tracer.operation(op, traced):
                fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += items
            ok = False
        rec = OpRecord(kind, items, time.perf_counter() - t0, traced)
        if traced:
            after = self._probe_state()
            rec.jobs = self.probe.jobs_since_last()
            rec.gc_ms = after["gc_ms"] - before["gc_ms"]
            rec.peer = {k: after["peer"].get(k, 0) - before["peer"].get(k, 0)
                        for k in after["peer"]}
        self.records.append(rec)
        return ok

    def _probe_state(self) -> dict:
        if self.probe is None:
            self.probe = SparkProbe(self.spark)
        return {
            "gc_ms": self.probe.gc_ms(),
            "peer": self.peer.get("/counters") if self.peer else {},
        }


def install_layer_spans(tracer: Tracer) -> None:
    """Spans at the layer boundaries every sync path crosses."""
    from syncmaven_spark import runner
    from syncmaven_spark.sinks.hubspot import RestHubspotClient
    from syncmaven_spark.sources.registry import ParquetDirSource
    from syncmaven_spark.state import SqliteStore
    from syncmaven_spark.validate import RowValidator

    def input_files(t, df):
        t.count("sources.input_files", len(df.inputFiles()))

    def chunks(t, planned):
        t.count("cursor.chunks", len(planned[0]))

    tracer.wrap(runner, "compile_model", "sql.compile")
    tracer.wrap(ParquetDirSource, "read_query", "sources.read_query",
                on_result=input_files)
    tracer.wrap(runner, "load_cursor", "cursor.load")
    tracer.wrap(runner, "save_cursor", "cursor.save")
    tracer.wrap(runner, "plan_cursor_chunks", "cursor.plan", on_result=chunks)
    for method in ("get", "set", "list", "delete"):
        tracer.wrap(SqliteStore, method, f"state.{method}")
    tracer.wrap(RowValidator, "is_valid", "validate.driver")
    tracer.wrap(RestHubspotClient, "_req", "sinks.request")


# --- bulk_sync --------------------------------------------------------------


class BulkSync(Workload):
    """Distributed full refresh of a generated model through the benchmark's
    enrichment into the http destination, delivered executor-side."""

    name = "bulk_sync"
    # the first warm refresh is still slower than the rest
    warmup_steps = 1

    def generate(self):
        self.src = os.path.join(self.work, "src")
        self.truth = gen.bulk_model(self.seed, self.src, self.sizes["rows"])
        self.op_ids: list[str] = []

    def start_peer(self):
        return Peer("receiver", cwd=ROOT)

    def register(self, spark):
        from syncmaven_spark.session import load_tables
        from syncmaven_spark.state import SqliteStore

        load_tables(spark, self.src)
        self.store = SqliteStore(os.path.join(self.work, "state.db"))

    def _sync(self, op_id: str):
        from syncmaven_spark.enrich import CallableEnrichment
        from syncmaven_spark.runner import ModelDefinition, SyncDefinition

        return SyncDefinition(
            id="bulk",
            model=ModelDefinition(
                id="bulk_events",
                query="select id, ts, user_id, event_type, amount "
                      "from bulk_events where :cursor is null or ts >= :cursor",
                cursor="ts",
                datasource=self.src,
            ),
            destination="http",
            stream="default",
            credentials={"url": f"{self.peer.url}/ingest/{op_id}",
                         "format": "array",
                         "batchSize": self.sizes["batch_size"]},
            enrichments=[CallableEnrichment(gen.enrich_row)],
        )

    def step(self, i, kind):
        from syncmaven_spark.runner import run_sync_distributed

        op_id = f"op{i}"
        sync = self._sync(op_id)
        ok = self.timed(
            kind, self.sizes["rows"],
            lambda: run_sync_distributed(
                self.spark, sync, self.store, full_refresh=True,
                num_chunks=self.sizes["chunks"]),
        )
        if ok:
            self.op_ids.append(op_id)

    def check(self):
        expected = {str(k) for k in self.truth["expected_ids"]}
        self.raw = {"expected": expected, "got": [
            self.peer.get(f"/stats/{op_id}") for op_id in self.op_ids]}
        missing = unexpected = dups = 0
        for got in self.raw["got"]:
            m, u, d = check_bulk(got, expected)
            missing, unexpected, dups = missing + m, unexpected + u, dups + d
        n = len(self.op_ids) * len(expected)
        return n, missing + unexpected, {
            "missing": missing, "unexpected": unexpected,
            "duplicates": dups}

    def extra_layer_metrics(self):
        """Timed no-op writes of the validation and enrichment stages over
        the bulk input, apart from delivery."""
        from pyspark.sql import functions as F

        from syncmaven_spark.enrich import CallableEnrichment, enrich_dataframe
        from syncmaven_spark.runner import model_dataframe
        from syncmaven_spark.sinks import get_destination
        from syncmaven_spark.validate import with_validation_column

        sync = self._sync("unused")
        df = model_dataframe(self.spark, sync.model, None)
        spec = get_destination("http", sync.credentials).stream_spec("default")
        out = {}
        for name, frame in (
            ("validate.vector_ms",
             lambda: with_validation_column(df, spec.row_type)
             .filter(F.col("_valid"))),
            ("enrich.vector_ms",
             lambda: enrich_dataframe(
                 df, lambda: CallableEnrichment(gen.enrich_row))),
        ):
            t0 = time.perf_counter()
            frame().write.format("noop").mode("overwrite").save()
            out[name] = 1e3 * (time.perf_counter() - t0)
        return out


def check_bulk(got: dict, expected: set[str]) -> tuple[int, int, int]:
    """(missing, unexpected, duplicate) rows of one full refresh. The
    receiver's ids must equal the expected set; an id arriving more than
    once is the at-least-once overlap and is counted, not failed."""
    keys = set(got)
    dups = sum(c - 1 for c in got.values() if c > 1)
    return len(expected - keys), len(keys - expected), dups


# --- trickle_sync -----------------------------------------------------------


class TrickleSync(Workload):
    """A scheduler tick: a small delta lands in a growing parquet table,
    then the project's incremental syncs run in parity mode."""

    name = "trickle_sync"
    # a fresh process speeds up over its first few ticks; pooling them
    # steadies the first-pass figure and keeps them out of the repeats
    first_pass_steps = 5

    def generate(self):
        s = self.sizes
        self.source = gen.TrickleSource(
            self.seed, os.path.join(self.work, "src"),
            s["history_rows"], s["delta_rows"])
        self.project = os.path.join(self.work, "project")
        self.out = os.path.join(self.work, "out.ndjson")
        self.state = os.path.join(self.work, "state.db")
        files = {
            "models/trickle_events.yml": {
                "id": "trickle_events",
                "datasource": os.path.dirname(self.source.table_dir),
                "cursor": "ts",
                "query": "select id, ts, user_id, event_type, amount "
                         "from trickle_events where :cursor is null "
                         "or ts >= :cursor order by ts asc",
            },
            "connections/out.yml": {"package": "file",
                                    "credentials": {"filename": self.out}},
            "syncs/trickle.yml": {"model": "trickle_events",
                                  "destination": "out",
                                  "checkpointEvery": s["checkpoint_every"]},
        }
        for rel, body in files.items():
            path = os.path.join(self.project, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump(body, fh)  # JSON is valid YAML
        self.ticks: list[dict] = []

    def register(self, spark):
        from syncmaven_spark.cursor import save_cursor
        from syncmaven_spark.session import load_tables
        from syncmaven_spark.state import SqliteStore

        load_tables(spark, os.path.dirname(self.source.table_dir))
        # the scheduler has caught up with the history before the loop
        store = SqliteStore(self.state)
        save_cursor(store, "trickle", "ts", self.source.max_ts)
        store.close()

    def _tick(self):
        from syncmaven_spark.project import read_project
        from syncmaven_spark.runner import run_sync
        from syncmaven_spark.state import SqliteStore

        with self.tracer.span("project.read"):
            project = read_project(self.project)
        store = SqliteStore(self.state)
        try:
            for sync in project.syncs.values():
                run_sync(self.spark, sync, store)
        finally:
            store.close()

    def step(self, i, kind):
        from syncmaven_spark.cursor import load_cursor
        from syncmaven_spark.state import SqliteStore

        truth = self.source.append_delta()
        ok = self.timed(kind, self.sizes["delta_rows"], self._tick)
        if not ok:
            return
        with open(self.out) as fh:
            delivered = [json.loads(line)["id"] for line in fh]
        store = SqliteStore(self.state)
        cursor = load_cursor(store, "trickle", "ts")
        store.close()
        self.ticks.append({"truth": truth, "delivered": delivered,
                           "cursor": cursor})

    def check(self):
        self.raw = {"ticks": self.ticks}
        failed = sum(check_tick(t["truth"], t["delivered"], t["cursor"])
                     for t in self.ticks)
        attempted = len(self.ticks) * self.sizes["delta_rows"]
        return attempted, failed, {"ticks": len(self.ticks)}


def check_tick(truth: dict, delivered: list[int], cursor) -> int:
    """Failed rows of one tick: every delta row delivered once, nothing
    beyond the inclusive ``>=`` boundary rows, and the persisted cursor
    equal to the delta's max (a wrong cursor fails the whole delta)."""
    allowed = truth["ids"] | truth["boundary_ids"]
    seen = set(delivered)
    failed = len(truth["ids"] - seen) + len(seen - allowed)
    failed += len(delivered) - len(seen)  # a row sent twice in one tick
    if cursor != truth["max_cursor"]:
        failed += len(truth["ids"])
    return failed


# --- crm_upsert -------------------------------------------------------------


class CrmUpsert(Workload):
    """HubSpot contacts upsert through ``RestHubspotClient`` against the
    emulator: a create pass (ID-map misses: search, create, one state write
    per row) then an update pass over the same ids (map hits: one PATCH)."""

    name = "crm_upsert"
    layer_kinds = ("first", "repeat")
    first_is_one_pass = False

    def generate(self):
        self.src = os.path.join(self.work, "src")
        self.truth = gen.crm_contacts(
            self.seed, self.src, self.sizes["per_pass"], self.sizes["cycles"])
        self.cycles_done = 0

    def start_peer(self):
        return Peer("hubspot", "--every", str(self.sizes["every"]), cwd=ROOT)

    def register(self, spark):
        from syncmaven_spark.session import load_tables
        from syncmaven_spark.sinks.hubspot import RestHubspotClient
        from syncmaven_spark.state import SqliteStore

        load_tables(spark, self.src)
        RestHubspotClient.BASE = self.peer.url
        self.store = SqliteStore(os.path.join(self.work, "state.db"))
        # the driver's thread and the emulator take turns, one request at a
        # time; on one shared CPU each request hands that CPU over instead
        # of waking an idle one, which on a shared VM waits for the host.
        # Spark's JVM, started before this, keeps every CPU.
        cpu = {max(os.sched_getaffinity(0))}
        os.sched_setaffinity(self.peer.proc.pid, cpu)
        os.sched_setaffinity(0, cpu)

    def _pass(self, label: str):
        from syncmaven_spark.runner import ModelDefinition, SyncDefinition, run_sync

        sync = SyncDefinition(
            id="crm",
            model=ModelDefinition(
                id=f"contacts_{label}",
                query="select id, name, email, plan, score from crm_contacts "
                      f"where pass = '{label}'",
                datasource=self.src,
            ),
            destination="hubspot",
            stream="contacts",
            credentials={"accessToken": "bench-token"},
        )
        return lambda: run_sync(self.spark, sync, self.store)

    def step(self, i, kind):
        if i >= self.sizes["cycles"]:
            raise RuntimeError("crm_upsert ran out of generated cycles")
        n = self.sizes["per_pass"]
        warm = kind == "first"  # cycle 0 only warms the process
        self.timed("warmup" if warm else "first", n, self._pass(f"c{i}"))
        self.timed("warmup" if warm else "repeat", n, self._pass(f"u{i}"))
        self.cycles_done = i + 1

    def check(self):
        objects = self.peer.get("/_bench/contacts")
        expected = {ext: props for ext, props in self.truth["final"].items()
                    if int(ext) <= self.cycles_done * self.sizes["per_pass"]}
        id_map = self.store.list(["syncId=crm", "contactsMap"])
        self.raw = {"objects": objects, "expected": expected,
                    "id_map_size": len(id_map)}
        failed = check_crm(objects, expected, len(id_map))
        # each contact is attempted twice: created, then updated
        return 2 * len(expected), failed, {"contacts": len(objects)}


def check_crm(objects: dict, expected: dict, id_map_size: int) -> int:
    """Failed contacts: the emulator must hold exactly one object per
    expected external id, with the update pass's properties, and the
    state ID map must hold one entry per contact."""
    by_ext: dict[str, list[dict]] = {}
    for props in objects.values():
        by_ext.setdefault(props.get("external_id"), []).append(props)
    failed = 0
    for ext, props in expected.items():
        got = by_ext.get(ext, [])
        if len(got) != 1 or got[0] != props:
            failed += 1
    failed += sum(len(v) for k, v in by_ext.items() if k not in expected)
    failed += abs(id_map_size - len(expected))
    return failed


# --- near_dup_ingest --------------------------------------------------------


class NearDupIngest(Workload):
    """Streaming MinHash near-dup mining, one parquet file per micro-batch,
    each batch run to completion before the next lands."""

    name = "near_dup_ingest"

    def generate(self):
        self.docs = gen.DocStream(
            self.seed, os.path.join(self.work, "src"),
            self.sizes["batch_docs"], self.sizes["dup_frac"])
        self.state = os.path.join(self.work, "state")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.batches_ok = 0

    def register(self, spark):
        from pyspark.sql import types as T

        self.schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])

    def step(self, i, kind):
        from syncmaven_spark.streaming import run_streaming_near_dup_sync

        self.docs.write_batch()
        ok = self.timed(
            kind, self.sizes["batch_docs"],
            lambda: run_streaming_near_dup_sync(
                self.spark, self.docs.root, self.schema, self.state,
                self.ckpt, threshold=NEAR_DUP_THRESHOLD),
        )
        if ok:
            self.batches_ok += 1

    def check(self):
        from syncmaven_spark.streaming import read_pairs

        attempted = self.batches_ok * self.sizes["batch_docs"]
        if not self.batches_ok:
            return attempted, 0, {}
        pairs = {(r.id_a, r.id_b) for r in
                 read_pairs(self.spark, self.state).select("id_a", "id_b")
                 .collect()}
        self.pairs = pairs
        self.raw = {"pairs": pairs, "planted": self.docs.planted,
                    "texts": self.docs.texts}
        failed, recall, precision = check_near_dup(
            pairs, self.docs.planted, self.docs.texts)
        self.recall, self.precision = recall, precision
        return attempted, failed, {"pairs": len(pairs), "recall": recall,
                                   "precision": precision}

    def extra_layer_metrics(self):
        files = size = 0
        for dirpath, _, names in os.walk(self.state):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
        traced = [r for r in self.records if r.traced]
        first = [r.seconds for r in traced if r.kind == "first"]
        repeat = [r for r in traced if r.kind == "repeat"]
        n = max(len(repeat), 1)
        return {
            "streaming.batch_ms": 1e3 * sum(r.seconds for r in repeat) / n,
            "streaming.first_batch_ms": 1e3 * sum(first),
            "streaming.spark_jobs_per_batch": sum(r.jobs[0] for r in repeat) / n,
            "streaming.state_bytes": size,
            "streaming.state_files": files,
            "operators.pairs_found": len(getattr(self, "pairs", ())),
            "operators.recall": getattr(self, "recall", 0.0),
            "operators.precision": getattr(self, "precision", 0.0),
        }


def check_near_dup(pairs: set, planted: set, texts: dict):
    """(failed, recall, precision). A reported pair is right when its exact
    3-shingle Jaccard reaches the threshold; each wrong pair fails, and when
    recall is under the floor every missing planted pair fails."""
    wrong = sum(
        1 for a, b in pairs
        if a not in texts or b not in texts
        or gen.jaccard(texts[a], texts[b]) < NEAR_DUP_THRESHOLD
    )
    found = sum(1 for p in planted if p in pairs)
    recall = found / len(planted) if planted else 1.0
    precision = (len(pairs) - wrong) / len(pairs) if pairs else 1.0
    failed = wrong + (len(planted) - found if recall < RECALL_FLOOR else 0)
    return failed, recall, precision


WORKLOADS = {w.name: w for w in (BulkSync, TrickleSync, CrmUpsert,
                                 NearDupIngest)}


# --- the run ----------------------------------------------------------------


def _prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory and
    let Spark's Python workers import the program and this package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a 1 GB driver heap keeps the run small on a shared host and bounds
    # how far the JVM's adaptive heap growth moves peak memory run to run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def run(name: str, seed: int, seconds: float, trace: bool,
        sizes: dict | None = None, work_root: str | None = None,
        spans_out: str | None = None) -> Outcome:
    """Run one workload for ``seconds`` of repeated operations after its
    first pass; with ``trace`` return per-layer metrics instead of the
    end-to-end ones. ``sizes`` overrides entries of ``SIZES[name]``."""
    work_root = work_root or os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    wl = WORKLOADS[name](work, seed, {**SIZES[name], **(sizes or {})}, trace)
    rss = None
    busy0, steal0 = cpu_ticks()
    cpus = os.sched_getaffinity(0)  # a workload may pin the driver's thread
    try:
        wl.generate()
        wl.peer = wl.start_peer()
        rss = RssSampler({wl.peer.proc.pid} if wl.peer else set())

        t0 = time.perf_counter()
        from syncmaven_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            # no hsperfdata file under /tmp: the run writes only its checkout
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                        "-XX:-UsePerfData"},
        )
        spark.range(1).count()
        wl.spark = spark
        wl.register(spark)
        setup_s = time.perf_counter() - t0

        if trace:
            install_layer_spans(wl.tracer)
        i = 0
        for kind, n in (("first", wl.first_pass_steps),
                        ("warmup", wl.warmup_steps)):
            for _ in range(n):
                wl.step(i, kind)
                i += 1
        start = time.perf_counter()
        # a traced run needs an untraced repeat to measure its own overhead
        measured, at_least = 0, 2 if trace else 1
        while measured < at_least or time.perf_counter() - start < seconds:
            wl.step(i, "repeat")
            i, measured = i + 1, measured + 1
        attempted, checked_failed, evidence = wl.check()
        failed = wl.failed + checked_failed
        attempted += wl.failed
        if trace:
            metrics = layer_metrics(wl)
            if spans_out:
                write_spans(wl.tracer, spans_out)
        else:
            metrics = end_to_end_metrics(wl, setup_s)
            metrics["peak_rss_mb"] = (rss.close(), "MB")
        evidence["ops"] = len(wl.records)
        busy, steal = (b - a for a, b in zip((busy0, steal0), cpu_ticks()))
        # a noisy host shows here: the share of wanted CPU time it withheld
        evidence["cpu_steal_frac"] = round(steal / (busy + steal), 3)
        return Outcome(attempted, failed, metrics, evidence, wl.raw)
    finally:
        wl.tracer.close()
        if rss is not None:
            rss.close()
        if wl.spark is not None:
            wl.spark.stop()
        if wl.peer is not None:
            wl.peer.close()
        os.sched_setaffinity(0, cpus)
        shutil.rmtree(work, ignore_errors=True)


def _pooled_rate(recs: list[OpRecord]) -> float:
    secs = sum(r.seconds for r in recs)
    return sum(r.items for r in recs) / secs if secs else 0.0


def _median_rate(recs: list[OpRecord]) -> float:
    """Items per second of the median operation: a burst of host noise
    slows a few operations, not the median one."""
    return (statistics.median(r.items for r in recs)
            / statistics.median(r.seconds for r in recs))


def end_to_end_metrics(wl: Workload, setup_s: float) -> dict:
    first = [r for r in wl.records if r.kind == "first"]
    repeat = [r for r in wl.records if r.kind == "repeat"]
    p50_ms = 1e3 * statistics.median(r.seconds for r in repeat)
    print(f"[perfbench] {wl.name}: first-pass seconds "
          f"{[round(r.seconds, 3) for r in first]}, repeat seconds "
          f"{[round(r.seconds, 3) for r in repeat]}, repeat p50 "
          f"{p50_ms:.1f} ms over {len(repeat)} samples", file=sys.stderr)
    first_rate = _pooled_rate if wl.first_is_one_pass else _median_rate
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_per_s": (first_rate(first), "1/s"),
        "repeat_pass_per_s": (_median_rate(repeat), "1/s"),
    }


LAYER_UNITS = {
    "project.read_ms": "ms", "sql.compile_ms": "ms",
    "sources.read_query_ms": "ms", "sources.input_files": "count",
    "state.get_calls": "count", "state.set_calls": "count",
    "state.list_calls": "count", "state.busy_ms": "ms",
    "cursor.load_ms": "ms", "cursor.save_ms": "ms", "cursor.plan_ms": "ms",
    "cursor.chunks": "count",
    "validate.driver_rows": "count", "validate.driver_ms": "ms",
    "validate.vector_ms": "ms", "enrich.vector_ms": "ms",
    "runner.spark_jobs": "count", "runner.spark_stages": "count",
    "runner.spark_tasks": "count", "runner.self_ms": "ms",
    "sinks.requests": "count", "sinks.rate_limited": "count",
    "sinks.useful_request_ratio": "ratio", "sinks.request_ms": "ms",
    "sinks.bytes_received": "B", "sinks.connections_opened": "count",
    "sinks.receiver_busy_frac": "ratio",
    "session.jvm_gc_ms": "ms",
    "trace.overhead_frac": "ratio", "trace.spans": "count",
}
#: printed only by near_dup_ingest, which is outside BENCHMARK.json
NEAR_DUP_UNITS = {
    "streaming.batch_ms": "ms", "streaming.first_batch_ms": "ms",
    "streaming.spark_jobs_per_batch": "count", "streaming.state_bytes": "B",
    "streaming.state_files": "count",
    "operators.pairs_found": "count", "operators.recall": "ratio",
    "operators.precision": "ratio",
}


def layer_metrics(wl: Workload) -> dict:
    """Per-operation means over the traced operations of ``layer_kinds``;
    a layer the workload does not reach reads 0."""
    t = wl.tracer
    recs = [(op, r) for op, r in enumerate(wl.records)
            if r.traced and r.kind in wl.layer_kinds]
    ops = {op for op, _ in recs}
    n = max(len(recs), 1)
    peer = {k: sum(r.peer.get(k, 0) for _, r in recs)
            for k in ("requests", "rate_limited", "bytes", "connections",
                      "cpu_s")}
    busy_s = sum(r.seconds for _, r in recs if r.peer)
    roots = [i for i, s in enumerate(t.spans) if s[3] is None and s[4] in ops]
    per_op = {
        "project.read_ms": t.total_ms("project.read", ops),
        "sql.compile_ms": t.total_ms("sql.compile", ops),
        "sources.read_query_ms": t.total_ms("sources.read_query", ops),
        "sources.input_files": t.count_total("sources.input_files", ops),
        "state.get_calls": t.count_total("state.get.calls", ops),
        "state.set_calls": t.count_total("state.set.calls", ops),
        "state.list_calls": t.count_total("state.list.calls", ops),
        "state.busy_ms": sum(t.total_ms(f"state.{m}", ops)
                             for m in ("get", "set", "list", "delete")),
        "cursor.load_ms": t.total_ms("cursor.load", ops),
        "cursor.save_ms": t.total_ms("cursor.save", ops),
        "cursor.plan_ms": t.total_ms("cursor.plan", ops),
        "cursor.chunks": t.count_total("cursor.chunks", ops),
        "validate.driver_rows": t.count_total("validate.driver.calls", ops),
        "validate.driver_ms": t.total_ms("validate.driver", ops),
        "runner.spark_jobs": sum(r.jobs[0] for _, r in recs),
        "runner.spark_stages": sum(r.jobs[1] for _, r in recs),
        "runner.spark_tasks": sum(r.jobs[2] for _, r in recs),
        "runner.self_ms": sum(t.self_ms(i) for i in roots),
        "sinks.requests": peer["requests"],
        "sinks.rate_limited": peer["rate_limited"],
        "sinks.request_ms": t.total_ms("sinks.request", ops),
        "sinks.bytes_received": peer["bytes"],
        "sinks.connections_opened": peer["connections"],
        "session.jvm_gc_ms": sum(r.gc_ms for _, r in recs),
        "trace.spans": sum(1 for s in t.spans if s[4] in ops),
    }
    out = {k: v / n for k, v in per_op.items()}
    out["sinks.useful_request_ratio"] = (
        (peer["requests"] - peer["rate_limited"]) / peer["requests"]
        if peer["requests"] else 0.0)
    out["sinks.receiver_busy_frac"] = peer["cpu_s"] / busy_s if busy_s else 0.0
    repeat = [r for r in wl.records if r.kind == "repeat"]
    on = [r.seconds for r in repeat if r.traced]
    off = [r.seconds for r in repeat if not r.traced]
    out["trace.overhead_frac"] = (
        statistics.median(on) / statistics.median(off) - 1 if on and off
        else 0.0)
    extra = wl.extra_layer_metrics()
    out.update(extra)
    units = {**LAYER_UNITS,
             **{k: NEAR_DUP_UNITS[k] for k in extra if k in NEAR_DUP_UNITS}}
    return {k: (float(out.get(k, 0.0)), unit) for k, unit in units.items()}


def write_spans(tracer: Tracer, path: str) -> None:
    """Spans as JSON lines: name, start and end (s), parent index, op."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for i, (name, start, end, parent, op) in enumerate(tracer.spans):
            fh.write(json.dumps({"i": i, "name": name, "start": start,
                                 "end": end, "parent": parent, "op": op})
                     + "\n")
