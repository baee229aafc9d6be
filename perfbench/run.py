"""Archive-and-query benchmark for bend_archiver_spark.

One Python driver plus its Spark JVM on ``local[<cpus - 1>]``, running one
workload as a closed loop with one client (the next operation starts
when the previous one has finished and been checked)::

    python3 perfbench/run.py --workload archive_jdbc_drain --seed 1 --seconds 10 --trace 0

Workloads:

- ``archive_jdbc_drain``: ``JdbcArchiveJob`` runs drain ``orders``
  (sf0.1, 150,000 rows) from embedded Derby, one 5,000-row key slice
  per job, into one shared target: gate on, delete-after-sync on,
  fingerprint on, batch 1000. The seed permutes the slice order.
- ``query_mix``: one pass runs eight headline registry queries
  (``oracle.MIX``, sf0.01) into Spark's ``noop`` sink, in a
  seed-permuted order. Nothing is uncached between passes, so the
  persists a query leaves behind pile up as they would in a long-lived
  session.

Each run pins its environment (``SPARK_GRAFT_CPUS`` one below the CPU
count, so that the JVM's compiler and GC threads and the Python process
have a CPU besides the task threads; a 4g driver heap,
a run-scoped directory for Spark's local dirs, targets, Derby and the
event log, removed at the end). Inputs are generated once per checkout
under ``.bench_build/perfbench`` (the first run builds them, and the
seeded Derby image, and takes longer).

The first, untimed operations (eight drain jobs, one query pass) warm the
JVM up and are checked like the others. Outputs are checked outside the
timed spans: the drained Derby table and target slice by slice; the
query outputs against digests recorded from the DuckDB oracle
(``oracle.py``).

Wall times are taken net of CPU steal: the host is a shared virtual
machine whose hypervisor takes from 2% to over 20% of the CPU time for
minutes at a stretch, and a run's wall times move with it. Each timed
span is scaled by the share of the machine's busy-or-stolen CPU time in
that span that was not stolen (``stats.unstolen``), which estimates the time
it would have taken on a host of its own. The report line keeps the raw
wall times too.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the archiver's entry points are wrapped in spans
(``tracer.py``), Spark's event log is written and parsed
(``eventlog.py``), and the last line carries the per-layer metrics,
averaged per operation. The line before the last is a report with the
machine state and every end-to-end figure under its full name.
"""

from __future__ import annotations

import time


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal [guest guest_nice]
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v)


T_START = time.perf_counter()
J_START = cpu_jiffies()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("archive_jdbc_drain", "query_mix")
DRIVER_MEMORY = "4g"
# timed operations a run makes at least, and a traced run exactly. The
# jobs are still speeding up when timing starts (the JVM keeps compiling
# for dozens of jobs), so a fixed count puts the median at the same
# point of that curve in every run, however slow the host is; and a
# traced run's per-operation counts repeat exactly
TIMED_OPS = {"archive_jdbc_drain": 12, "query_mix": 3}
ARCHIVE_SF = 0.1
SLICE_ROWS = 5000
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]

# Spark-side layers: span keys -> the layer their Spark jobs count under
KEY_LAYER = {
    "job": "job",
    "sources.jdbc.probe": "sources.jdbc",
    "sources.jdbc.count": "sources.jdbc",
    "sink.write": "sink",
    "verify.gate": "verify.gate",
    "verify.count": "verify.count",
    "verify.fingerprint": "verify.fingerprint",
    "postsync.delete": "postsync",
    "queries": "queries",
    "queries.build": "queries",
    "queries.exec": "queries",
}
SPARK_LAYERS = ("setup", "job", "sources.jdbc", "sink", "verify.gate",
                "verify.count", "verify.fingerprint", "queries")
SPARK_METRICS = (("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                 ("scheduler_delay_s", "s"), ("spill_bytes", "bytes"),
                 ("input_bytes", "bytes"))
# The gated end-to-end metrics: one set for every workload, each defined
# and never 0 on both. ``op_s_p50_unstolen`` is ``archive_job_s_p50`` on
# the drain and ``query_pass_s`` on ``query_mix``, net of CPU steal, as
# is ``setup_s``. The report line also carries the raw wall times, the
# archive-only figures (tail, rows/s, bytes/row), ``peak_rss_mb`` and
# ``failed_frac`` under their own names.
END_TO_END = (("setup_s", "s"), ("op_s_p50_unstolen", "s"), ("cpu_s_per_op", "s"))


def mix_queries() -> list[str]:
    from perfbench import oracle

    return sorted(oracle.load()["queries"])


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run prints."""
    out = [
        ("session.start_s", "s", "lower"),
        ("sources.jdbc.probe_s", "s", "lower"),
        ("sources.jdbc.count_s", "s", "lower"),
        ("sources.jdbc.read_tasks", "count", "lower"),
        ("planner.partitions", "count", "lower"),
        ("sink.task_skew", "ratio", "lower"),
        ("job.self_s", "s", "lower"),
        ("job.spark_jobs", "count", "lower"),
        ("job.stages", "count", "lower"),
        ("job.tasks", "count", "lower"),
        ("sink.write_s", "s", "lower"),
        ("sink.shuffle_write_bytes", "bytes", "lower"),
        ("sink.bytes_written", "bytes", "lower"),
        ("sink.files_written", "count", "lower"),
        ("verify.gate_s", "s", "lower"),
        ("verify.count_s", "s", "lower"),
        ("verify.fingerprint_s", "s", "lower"),
        ("postsync.delete_s", "s", "lower"),
        ("postsync.deleted_rows", "count", "higher"),
        ("queries.build_s", "s", "lower"),
        ("queries.exec_s", "s", "lower"),
        ("queries.shuffle_write_bytes", "bytes", "lower"),
        ("queries.stages", "count", "lower"),
        ("queries.leaked_rdds", "count", "lower"),
    ]
    out += [(f"queries.{q}_s", "s", "lower") for q in mix_queries()]
    out += [(f"spark.{layer}.{m}", unit, "lower")
            for layer in SPARK_LAYERS for m, unit in SPARK_METRICS]
    out += [("trace.op_s_p50", "s", "lower"), ("trace.bookkeeping_s", "s", "lower")]
    return out


# --------------------------------------------------------------------------
# machine and process state


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    """Live descendants of ``pid``."""
    by_parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_proc_stat(int(name))[1])
            except (OSError, IndexError, ValueError):
                continue
            by_parent.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in by_parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process, its live descendants and the
    descendants they have reaped (utime+stime+cutime+cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in [os.getpid()] + _children(os.getpid()):
        try:
            f = _proc_stat(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / tick
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


@dataclass
class Machine:
    """Load, CPU steal and free memory over the run."""

    start: dict = field(default_factory=dict)
    _jiffies: tuple[int, int, int] = (0, 0, 0)

    def begin(self) -> None:
        self._jiffies = cpu_jiffies()
        self.start = {"loadavg": [round(x, 2) for x in os.getloadavg()],
                      "mem_available_mb": _mem_available_mb()}

    def end(self) -> dict:
        _busy, steal, total = cpu_jiffies()
        dt = total - self._jiffies[2]
        return {
            "start": self.start,
            "end": {"loadavg": [round(x, 2) for x in os.getloadavg()],
                    "mem_available_mb": _mem_available_mb()},
            "cpu_steal_frac": round((steal - self._jiffies[1]) / dt, 4) if dt else 0.0,
        }


# --------------------------------------------------------------------------
# the run


def is_warmup(op: str) -> bool:
    return op.startswith("w")


@dataclass
class OpRecord:
    op: str
    seconds: float
    rows: int = 0
    files: int = 0
    bytes: int = 0
    ok: bool = True
    error: str = ""
    partitions: int = 0
    cpu_s: float = 0.0
    unstolen_s: float = 0.0
    extra: object = None


@dataclass
class Run:
    """State of one benchmark run, shared by the workload functions."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    spark: object = None
    tracer: object = None
    records: list[OpRecord] = field(default_factory=list)
    build_s: float = 0.0
    check_s: float = 0.0
    first_op_at: float | None = None
    first_op_jiffies: tuple = ()
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def timed(self) -> list[OpRecord]:
        return [r for r in self.records if not is_warmup(r.op)]

    def ops(self, warmups: int):
        """Operation ids: ``warmups`` untimed ones (``w1``..), then timed
        ones (``0``, ``1``, ..): ``TIMED_OPS`` of them, and more until
        ``--seconds`` of operation time have been measured unless tracing."""
        for i in range(warmups):
            yield f"w{i + 1}"
        while len(self.timed) < TIMED_OPS[self.workload] or (
                not self.trace and sum(r.seconds for r in self.timed) < self.seconds):
            yield str(len(self.timed))

    def timed_op(self, op: str, fn) -> OpRecord:
        """Run ``fn()`` as operation ``op``, timing its wall time (raw and
        net of CPU steal) and process-tree CPU time; the first timed
        operation starts the timed window."""
        from perfbench import stats

        if not is_warmup(op) and self.first_op_at is None:
            self.first_op_at = time.perf_counter()
            self.first_op_jiffies = cpu_jiffies()
        rec = OpRecord(op, 0.0)
        cpu0 = tree_cpu_s()
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        try:
            rec.extra = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:300]
        rec.seconds = time.perf_counter() - t0
        rec.unstolen_s = stats.unstolen(rec.seconds, j0, cpu_jiffies())
        rec.cpu_s = tree_cpu_s() - cpu0
        self.records.append(rec)
        return rec

    def fail(self, rec: OpRecord, why: str) -> None:
        rec.ok = False
        rec.error = rec.error or why[:300]

    def check(self, fn):
        """Run an output check; its time is excluded from ``setup_s``."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.check", key="bench.check", op="check"):
                return fn()
        finally:
            self.check_s += time.perf_counter() - t0

    def build(self, fn):
        """Build cached inputs; excluded from ``setup_s``."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.build_s += time.perf_counter() - t0


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _dir_files(path: str) -> tuple[int, int]:
    files = [os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


# ---- archive_jdbc_drain --------------------------------------------------


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_shutdown(spark, db: str) -> None:
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    except Py4JJavaError:
        pass  # Derby reports a clean shutdown as an SQLException


def ensure_derby_image(spark, orders_path: str) -> str:
    """A Derby database holding ``orders`` with an index (the primary
    key) on O_ORDERKEY, built once and copied into each run."""
    from perfbench import datagen

    image = os.path.join(BUILD, f"derby-{datagen.DATA_VERSION}", "ordersdb")
    if os.path.isdir(image):
        return image
    tmp = f"{image}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    url = f"jdbc:derby:{tmp};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().execute(
            "CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, "
            "O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, "
            "O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(15))")
    finally:
        conn.close()
    df = spark.read.parquet(orders_path)
    df.toDF(*[c.upper() for c in df.columns]).write.jdbc(
        url, "ORDERS", mode="append",
        properties={"driver": DERBY_DRIVER, "batchsize": "5000"})
    _derby_shutdown(spark, tmp)
    os.replace(tmp, image)
    return image


def archive_jdbc_drain(run: Run) -> None:
    from bend_archiver_spark.config import Config
    from bend_archiver_spark.job import JdbcArchiveJob

    from perfbench import datagen

    spark = run.spark
    data = run.build(lambda: datagen.ensure_tables(BUILD, ARCHIVE_SF, ("orders",)))
    orders = os.path.join(data, "orders.parquet")
    image = run.build(lambda: ensure_derby_image(spark, orders))
    db = os.path.join(run.run_dir, "derby", "ordersdb")
    shutil.copytree(image, db)
    n_rows = datagen.row_counts(ARCHIVE_SF)["orders"]
    slices = list(range(n_rows // SLICE_ROWS))
    random.Random(run.seed).shuffle(slices)
    target = os.path.join(run.run_dir, "targets", "drain")
    archived: list[int] = []

    def job(op: str, s: int):
        lo, hi = s * SLICE_ROWS, (s + 1) * SLICE_ROWS
        cfg = Config(
            database_type="derby",
            source_db=db,
            source_table="ORDERS",
            source_split_key="O_ORDERKEY",
            source_where_condition=f"O_ORDERKEY >= {lo} AND O_ORDERKEY < {hi}",
            batch_size=1000,
            target_path=target,
            target_format="parquet",
            delete_after_sync=True,
            verify_fingerprint=True,
        )
        with run.tracer.span("job", key="job", op=op):
            return JdbcArchiveJob(spark, cfg).run()

    # the first jobs load the JDBC path and keep getting faster for a
    # dozen more; eight warm-ups leave the timed jobs on the flatter part
    for op in run.ops(warmups=8):
        if not slices:
            break
        s = slices.pop()
        before = _dir_files(target) if os.path.isdir(target) else (0, 0)
        rec = run.timed_op(op, lambda: job(op, s))
        archived.append(s)
        if rec.ok:
            report = rec.extra
            after = _dir_files(target)
            rec.files, rec.bytes = after[0] - before[0], after[1] - before[1]
            rec.rows = report.target_rows
            rec.partitions = report.num_partitions
            if not (report.verify.is_correct and report.source_rows == SLICE_ROWS
                    and report.deleted_rows == SLICE_ROWS):
                run.fail(rec, f"slice {s}: verify {report.verify}, "
                              f"deleted {report.deleted_rows}")

    def final_check() -> None:
        # Derby: every archived slice gone, every other slice intact;
        left = spark.read.format("jdbc").options(
            url=f"jdbc:derby:{db}", driver=DERBY_DRIVER,
            query=f"SELECT O_ORDERKEY / {SLICE_ROWS} AS S, COUNT(*) AS N "
                  f"FROM ORDERS GROUP BY O_ORDERKEY / {SLICE_ROWS}").load().collect()
        in_source = {int(r["S"]): int(r["N"]) for r in left}
        # target: each archived row exactly once, with the source's values
        same = " AND ".join(
            f"CAST(t.{c.upper()} AS TIMESTAMP) = CAST(s.{c} AS TIMESTAMP)"
            if c == "o_orderdate" else f"t.{c.upper()} = s.{c}"
            for c in ORDERS_COLS[1:])
        in_target = {int(s): (n, d, e) for s, n, d, e in _duck().execute(
            f"SELECT t.O_ORDERKEY // {SLICE_ROWS}, count(*), "
            f"count(DISTINCT t.O_ORDERKEY), count(*) FILTER (WHERE {same}) "
            f"FROM read_parquet('{target}/*.parquet') t "
            f"LEFT JOIN read_parquet('{orders}') s ON t.O_ORDERKEY = s.o_orderkey "
            f"GROUP BY 1").fetchall()}
        for s in set(in_target) - set(archived):
            run.failures.append(f"slice {s} is in the target but was never archived")
        for rec, s in zip(run.records, archived):
            want = (SLICE_ROWS, SLICE_ROWS, SLICE_ROWS)
            if in_target.get(s) != want or in_source.get(s, 0) != 0:
                run.fail(rec, f"slice {s}: target (rows, distinct, equal) = "
                              f"{in_target.get(s)}, {in_source.get(s, 0)} left in Derby")
        for s in range(n_rows // SLICE_ROWS):
            if s not in archived and in_source.get(s, 0) != SLICE_ROWS:
                run.failures.append(f"slice {s} was never archived but Derby "
                                    f"holds {in_source.get(s, 0)} of its rows")

    run.check(final_check)
    _derby_shutdown(spark, db)
    run.extra["slices_archived"] = len(archived)


# ---- query_mix -----------------------------------------------------------


def force(df) -> None:
    """Run a DataFrame to completion into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def query_mix(run: Run) -> None:
    from bend_archiver_spark.queries import REGISTRY

    from perfbench import datagen, oracle

    spark = run.spark
    data = run.build(lambda: datagen.ensure_tables(BUILD, oracle.MIX_SF))
    expected = oracle.load()["queries"]
    names = sorted(expected)
    random.Random(run.seed).shuffle(names)
    times: dict[str, list[float]] = {}
    jsc = spark.sparkContext._jsc

    def one_pass(op: str) -> int:
        bad = 0
        with run.tracer.span("queries.pass", key="queries", op=op):
            for name in names:
                spec = REGISTRY[name]
                t0 = time.perf_counter()
                with run.tracer.span("queries.build", key="queries.build", detail=name):
                    df = spec.spark(spark, data)
                if is_warmup(op):
                    pdf = df.toPandas()
                    got = run.check(lambda: oracle.digest(pdf))
                    if got != expected[name]:
                        bad += 1
                        run.failures.append(f"{name}: {got} != {expected[name]}")
                else:
                    with run.tracer.span("queries.exec", key="queries.exec", detail=name):
                        force(df)
                    times.setdefault(name, []).append(time.perf_counter() - t0)
            run.tracer.count("queries.leaked_rdds", jsc.getPersistentRDDs().size())
        return bad

    # the warm-up pass collects every output and checks it
    for op in run.ops(warmups=1):
        rec = run.timed_op(op, lambda: one_pass(op))
        if rec.ok and rec.extra:
            run.fail(rec, f"{rec.extra} query outputs differ from the oracle")
    run.extra["query_s"] = times


WORKLOAD_FN = {"archive_jdbc_drain": archive_jdbc_drain, "query_mix": query_mix}


# --------------------------------------------------------------------------
# metrics


def _per_op(values: dict[str, float], ops: list[str]) -> float:
    return sum(values.get(op, 0.0) for op in ops) / len(ops)


def end_to_end(run: Run, jvm_pid: int) -> tuple[dict, dict]:
    """The gated end-to-end metrics, and the report's full set."""
    from perfbench import stats

    timed = [r for r in run.timed if r.ok] or run.timed
    secs = [r.seconds for r in timed]
    summary = stats.summarize(secs)
    p50 = summary["p50"]
    p50_unstolen = stats.median([r.unstolen_s for r in timed])
    setup_wall_s = run.first_op_at - T_START - run.build_s - run.check_s
    setup_s = stats.unstolen(setup_wall_s, J_START, run.first_op_jiffies)
    cpu = sum(r.cpu_s for r in run.timed) / len(run.timed)
    jvm_mb = vm_hwm_mb(jvm_pid)
    python_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    metrics = {"setup_s": setup_s, "op_s_p50_unstolen": p50_unstolen, "cpu_s_per_op": cpu}
    archive = run.workload != "query_mix"
    p50_note = {"unstolen": p50_unstolen}
    rows = sum(r.rows for r in timed)
    attempted = len(run.records)
    failed = sum(not r.ok for r in run.records) + len(run.failures)
    report = {
        "setup_s": [setup_s, "s", {"wall": setup_wall_s}],
        "archive_job_s_p50": [p50 if archive else None, "s", p50_note],
        "archive_job_s_tail": [summary["tail"] if archive else None, "s",
                               {"percentile": summary["tail_percentile"],
                                "samples": summary["samples"]}],
        "archive_rows_per_s": [rows / sum(secs) if archive else None, "rows/s",
                               {"rows_per_job": rows / len(timed)}],
        "query_pass_s": [None if archive else p50, "s", p50_note],
        "cpu_s_per_op": [cpu, "s"],
        "target_bytes_per_row": [sum(r.bytes for r in timed) / rows if archive and rows
                                 else None, "bytes/row"],
        "peak_rss_mb": [jvm_mb + python_mb, "MB", {"jvm": jvm_mb, "python": python_mb}],
        "failed_frac": [failed / attempted, "1"],
    }
    return metrics, report


def per_layer(run: Run, groups: dict, session_s: float) -> dict[str, float]:
    """Per-layer metrics of a traced run, per timed operation."""
    from perfbench import stats

    tr = run.tracer
    ops = [r.op for r in run.timed]
    selfs: dict[str, dict[str, float]] = {}
    for (op, key), sec in tr.self_times().items():
        selfs.setdefault(key, {})[op] = sec
    counters: dict[str, dict[str, float]] = {}
    for (op, name), v in tr.counters.items():
        counters.setdefault(name, {})[op] = v
    by_layer: dict[str, dict[str, list]] = {}
    for (label, op), m in groups.items():
        layer = "setup" if is_warmup(op) else KEY_LAYER.get(label, label)
        by_layer.setdefault(layer, {}).setdefault(op, []).append(m)

    def spark_sum(layers, attr, op) -> float:
        return sum(getattr(m, attr) for layer in layers
                   for m in by_layer.get(layer, {}).get(op, []))

    def spark_per_op(layers, attr) -> float:
        return sum(spark_sum(layers, attr, op) for op in ops) / len(ops)

    archive_layers = ("job", "sources.jdbc", "sink", "verify.gate", "verify.count",
                      "verify.fingerprint", "postsync")
    skews = [max([m.task_skew() for m in by_layer.get("sink", {}).get(op, [])] or [0.0])
             for op in ops]
    out = {
        "session.start_s": session_s,
        "sources.jdbc.probe_s": _per_op(selfs.get("sources.jdbc.probe", {}), ops),
        "sources.jdbc.count_s": _per_op(selfs.get("sources.jdbc.count", {}), ops),
        "sources.jdbc.read_tasks": spark_per_op(archive_layers, "jdbc_tasks"),
        "planner.partitions": sum(r.partitions for r in run.timed) / len(ops),
        "sink.task_skew": sum(skews) / len(ops),
        "job.self_s": _per_op(selfs.get("job", {}), ops),
        "job.spark_jobs": spark_per_op(archive_layers, "jobs"),
        "job.stages": spark_per_op(archive_layers, "stages"),
        "job.tasks": spark_per_op(archive_layers, "tasks"),
        "sink.write_s": _per_op(selfs.get("sink.write", {}), ops),
        "sink.shuffle_write_bytes": spark_per_op(["sink"], "shuffle_write_bytes"),
        "sink.bytes_written": spark_per_op(["sink"], "output_bytes"),
        "sink.files_written": sum(r.files for r in run.timed) / len(ops),
        "verify.gate_s": _per_op(selfs.get("verify.gate", {}), ops),
        "verify.count_s": _per_op(selfs.get("verify.count", {}), ops),
        "verify.fingerprint_s": _per_op(selfs.get("verify.fingerprint", {}), ops),
        "postsync.delete_s": _per_op(selfs.get("postsync.delete", {}), ops),
        "postsync.deleted_rows": _per_op(counters.get("postsync.deleted_rows", {}), ops),
        "queries.build_s": _per_op(selfs.get("queries.build", {}), ops),
        "queries.exec_s": _per_op(selfs.get("queries.exec", {}), ops),
        "queries.shuffle_write_bytes": spark_per_op(["queries"], "shuffle_write_bytes"),
        "queries.stages": spark_per_op(["queries"], "stages"),
        "queries.leaked_rdds": _per_op(counters.get("queries.leaked_rdds", {}), ops),
    }
    per_query: dict[str, float] = {}
    for name in ("queries.build", "queries.exec"):
        for (op, detail), sec in tr.durations(name).items():
            if op in ops:
                per_query[detail] = per_query.get(detail, 0.0) + sec
    for q in mix_queries():
        out[f"queries.{q}_s"] = per_query.get(q, 0.0) / len(ops)
    for layer in SPARK_LAYERS:
        for m, _unit in SPARK_METRICS:
            if layer == "setup":
                out[f"spark.setup.{m}"] = sum(
                    spark_sum(["setup"], m, op) for op in by_layer.get("setup", {}))
            else:
                out[f"spark.{layer}.{m}"] = spark_per_op([layer], m)
    out["trace.op_s_p50"] = stats.median([r.seconds for r in run.timed])
    out["trace.bookkeeping_s"] = _per_op(tr.bookkeeping_s, ops)
    return out


# --------------------------------------------------------------------------
# process lifetime


def pin_env(run_dir: str) -> dict[str, str]:
    env = {
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) - 1)),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    return env


def start_spark(run: Run):
    from bend_archiver_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={run.run_dir}/derby "
            f"-Dderby.stream.error.file={run.run_dir}/derby.log",
    }
    if run.trace:
        log_dir = os.path.join(run.run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process they
    started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _children(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - make sure it is gone either way
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in descendants:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def execute(run: Run) -> tuple[dict, dict]:
    """Run the workload; returns (final-line metrics, report)."""
    from perfbench import eventlog, tracer

    machine = Machine()
    machine.begin()
    t0 = time.perf_counter()
    run.spark = start_spark(run)
    session_s = time.perf_counter() - t0
    jvm_pid = int(run.spark._jvm.java.lang.ProcessHandle.current().pid())
    restore = None
    if run.trace:
        sc = run.spark.sparkContext
        # Spark jobs outside every span (staging) count as set-up
        run.tracer = tracer.Tracer(
            lambda g: sc.setLocalProperty(tracer.GROUP_PROPERTY, g or "setup|setup"))
        restore = tracer.install(run.tracer)
    else:
        run.tracer = tracer.NullTracer()
    try:
        WORKLOAD_FN[run.workload](run)
        metrics, report = end_to_end(run, jvm_pid)
    finally:
        if restore is not None:
            restore()
        stop_spark(run.spark)
    report = {"workload": run.workload, "seed": run.seed, "trace": run.trace,
              "metrics": report, "ops": len(run.records),
              "op_seconds": [round(r.seconds, 4) for r in run.records],
              "errors": [r.error for r in run.records if not r.ok] + run.failures,
              "machine": machine.end(), **run.extra}
    if run.trace:
        (log,) = eventlog.app_logs(os.path.join(run.run_dir, "eventlog"))
        metrics = per_layer(run, eventlog.parse(log), session_s)
        timed = {r.op for r in run.timed}
        covered = sum(sec for (op, _), sec in run.tracer.self_times().items() if op in timed)
        # the layers' self times against the operations' wall time
        report["self_time_coverage"] = covered / sum(r.seconds for r in run.timed)
        report["tracing_overhead"] = (
            "trace.op_s_p50 here against archive_job_s_p50 or query_pass_s "
            "of an untraced run")
    return metrics, report


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the program under test is the checkout's, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, "bend_archiver_spark", "__init__.py")):
        print("no bend_archiver_spark package in the checkout", file=sys.stderr)
        return 2
    os.makedirs(BUILD, exist_ok=True)
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cwd = os.getcwd()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        env = pin_env(run_dir)
        os.chdir(run_dir)  # anything Spark or Derby drops in the cwd stays here
        metrics, report = execute(run)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    report["env"] = {k: v for k, v in env.items() if not k.startswith("PYSPARK")}
    units = dict(END_TO_END) if not run.trace else {
        n: u for n, u, _ in per_layer_metrics()}
    result = {
        "correct": report["metrics"]["failed_frac"][0] == 0,
        "attempted": len(run.records),
        "failed": sum(not r.ok for r in run.records) + len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
