"""Run context shared by the workloads: per-run isolation, session
set-up, op timing, spans and Spark status-store stage accounting.

Tracing off (the end-to-end runs) an op costs a ``perf_counter`` pair
and two readings each of ``/proc/stat`` and of the process tree's CPU
time (a walk of ``/proc``, a few milliseconds). Tracing on, every op
also records a span and reads the stages
it ran from the driver's status store (``AppStatusStore.stageList``,
newest first, so only the new stages are fetched).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import sys
import time
import traceback
from dataclasses import dataclass, field

# env vars naming the base directory of every published store and
# scratch tree the engine writes (smoke.py checks this list covers
# the media specs' store and ingest env vars)
STORE_ENVS = (
    "SPARK_GRAFT_PAIR_STORE", "SPARK_GRAFT_DERIV_STORE",
    "SPARK_GRAFT_IMG_STORE", "SPARK_GRAFT_AUDIO_STORE",
    "SPARK_GRAFT_VIDEO_STORE", "SPARK_GRAFT_EMB_STORE",
    "SPARK_GRAFT_EMB_INGEST_STORE", "SPARK_GRAFT_TEXT_INGEST_STORE",
    "SPARK_GRAFT_IMG_INGEST_STORE", "SPARK_GRAFT_JSONL_STORE",
    "SPARK_GRAFT_ORC_STORE", "SPARK_GRAFT_UPSERT_PUB_STORE",
    "SPARK_GRAFT_LATE_STORE", "SPARK_GRAFT_DEDUP_AUDIT_STORE",
    "SPARK_GRAFT_AUDIO_INGEST_STORE", "SPARK_GRAFT_VIDEO_INGEST_STORE",
)
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# plan nodes that run Python workers over Arrow batches (pandas/Arrow
# UDFs, mapInPandas/mapInArrow); a toPandas collect does not count
_PY_STAGE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDF")


def fixture_dir(sf: float) -> tuple[str, str]:
    """The fixture tables at scale factor ``sf`` and a digest of them.
    They are byte-identical copies of the engine's seed-42 test tables
    (TESTDATA.md), listed with their SHA-256 in ``fixtures/SHA256SUMS``;
    a table that does not match its sum stops the run."""
    name = f"sf{sf:g}"
    with open(os.path.join(FIXTURES, "SHA256SUMS"), encoding="utf-8") as f:
        sums = [line.split() for line in f if line.split()[1].startswith(name + "/")]
    if not sums:
        raise SystemExit(f"no fixture tables at {name}")
    for want, rel in sums:
        with open(os.path.join(FIXTURES, rel), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                raise SystemExit(f"fixture {rel} does not match fixtures/SHA256SUMS")
    return os.path.join(FIXTURES, name), hashlib.sha256(repr(sums).encode()).hexdigest()


def isolate(run_dir: str, repo_root: str) -> None:
    """Point every store base, temp dir and Spark scratch dir at
    ``run_dir``. Must run before pyspark or the engine is imported:
    the py4j gateway and ``tempfile`` read TMPDIR once."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for env in STORE_ENVS:
        os.environ[env] = os.path.join(run_dir, "stores", env.lower())
    sys.path.insert(0, repo_root)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def store_dirs() -> list[str]:
    return [os.environ[e] for e in STORE_ENVS]


def published_tables(bases: list[str]) -> set[str]:
    """Versioned tables (dirs holding a ``_CURRENT`` pointer) under the
    store bases: a store that missed and was built shows up here."""
    found = set()
    for base in bases:
        for dirpath, _dirs, files in os.walk(base):
            if "_CURRENT" in files:
                found.add(dirpath)
    return found


def tree_state(root: str, skip: tuple[str, ...]) -> dict[str, float]:
    """path -> mtime for every file under root outside ``skip``."""
    state = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [
            d for d in dirs
            if os.path.join(dirpath, d) not in skip and d != "__pycache__"
        ]
        for f in files:
            p = os.path.join(dirpath, f)
            with contextlib.suppress(OSError):
                state[p] = os.stat(p).st_mtime
    return state


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    descendant process, reaped ones included: the benchmark process,
    the driver JVM it launched and the JVM's Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def clock() -> tuple[float, float, list[int]]:
    return time.perf_counter(), tree_cpu_s(os.getpid()), cpu_ticks()


def since(c: tuple[float, float, list[int]]) -> tuple[float, float, float]:
    """Wall seconds since ``clock()`` returned ``c``, the same net of
    CPU steal (``stolen_share``), and the process tree's CPU seconds."""
    t0, c0, k0 = c
    wall = time.perf_counter() - t0
    return wall, wall * (1.0 - stolen_share(k0, cpu_ticks())), tree_cpu_s(os.getpid()) - c0


@dataclass
class Stage:
    stage_id: int
    tasks: int
    start_ms: int
    end_ms: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    python: bool


class StageProbe:
    """Reads the stages completed since the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
        self._last = self._max_stage_id()

    def _list(self):
        return self._store.stageList(
            None, False, False, self._quantiles, self._jvm.java.util.ArrayList()
        )

    def _max_stage_id(self) -> int:
        lst = self._list()
        return lst.apply(0).stageId() if lst.size() else -1

    def _is_python(self, stage_id: int) -> bool:
        try:
            dot = self._graph.makeDotFile(self._store.operationGraphForStage(stage_id))
        except Exception:  # graph evicted: report the stage as JVM-only
            return False
        return bool(_PY_STAGE.search(dot))

    def new_stages(self) -> list[Stage]:
        lst = self._list()
        out = []
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid <= self._last:
                break
            if not (s.submissionTime().isDefined() and s.completionTime().isDefined()):
                continue  # skipped stage: its work was reused
            out.append(Stage(
                stage_id=sid,
                tasks=s.numTasks(),
                start_ms=s.submissionTime().get().getTime(),
                end_ms=s.completionTime().get().getTime(),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                input_bytes=s.inputBytes(),
                input_records=s.inputRecords(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                python=self._is_python(sid),
            ))
        if lst.size():
            self._last = max(self._last, lst.apply(0).stageId())
        return out


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpRecord:
    op_id: int
    name: str
    phase: str  # "cold" | "pass<N>" | "check"
    wall_s: float
    cpu_s: float
    stolen: float  # share of the CPU time the op's cores wanted that was stolen
    ok: bool
    stages: list[Stage] = field(default_factory=list)


class Run:
    """One benchmark run: the session, the clock, spans and layers.

    ``layer`` accumulates per-layer numbers keyed ``(phase, metric)``;
    the workloads add to it around their own calls into each layer.
    """

    def __init__(self, spark, sf_dir: str, run_dir: str, trace: bool):
        self.spark = spark
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.trace = trace
        self.ops: list[OpRecord] = []
        self.spans: list[dict] = []
        self.layer: dict[tuple[str, str], float] = {}
        self.trace_overhead: dict[str, float] = {}
        self.failures: list[str] = []
        self.digests: dict[str, str] = {}
        self.phase = "cold"
        self._span_stack: list[int] = []
        self._probe = StageProbe(spark) if trace else None

    # --------------------------------------------------------- layers
    def add(self, metric: str, value: float) -> None:
        key = (self.phase, metric)
        self.layer[key] = self.layer.get(key, 0.0) + value

    def total(self, metric: str) -> float:
        """``metric`` summed over every phase of the run."""
        return sum(v for (_phase, m), v in self.layer.items() if m == metric)

    @contextlib.contextmanager
    def timed(self, metric: str, span: str | None = None):
        """Time a call into a layer: adds to ``metric`` and, traced,
        records a child span of the current op."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.add(metric, t1 - t0)
            if self.trace:
                self._span(span or metric, t0, t1)

    @contextlib.contextmanager
    def measured(self, prefix: str):
        """Wall, steal-net wall and process-tree CPU seconds of a block
        (``since``), added to ``<prefix>.wall_s``, ``<prefix>.net_s``
        and ``<prefix>.cpu_s``."""
        c = clock()
        with self.timed(f"{prefix}.wall_s", prefix):
            yield
        _wall, net, cpu = since(c)
        self.add(f"{prefix}.net_s", net)
        self.add(f"{prefix}.cpu_s", cpu)

    def _span(self, name: str, t0: float, t1: float) -> None:
        self.spans.append({
            "id": len(self.spans),
            "name": name,
            "start": t0,
            "end": t1,
            "parent": self._span_stack[-1] if self._span_stack else None,
            "op": len(self.ops) if self._span_stack else None,
        })

    # ------------------------------------------------------------ ops
    def reset(self) -> None:
        """bench-style isolation between ops: drop cached frames and
        every module-level memo, then collect driver garbage."""
        from programmers_data_spark.memo import clear_memo_caches

        self.spark.catalog.clearCache()
        clear_memo_caches()
        self.spark.sparkContext._jvm.System.gc()

    def op(self, name: str, fn, reset: bool = True):
        """Run one op; a raised exception is a failed op, recorded and
        swallowed so the loop goes on. Returns fn's result or None."""
        if reset:
            self.reset()
        op_id = len(self.ops)
        span_id = len(self.spans)
        if self.trace:
            self.spans.append({"id": span_id, "name": name, "start": None,
                               "end": None, "parent": None, "op": op_id})
            self._span_stack.append(span_id)
        c0, k0 = tree_cpu_s(os.getpid()), cpu_ticks()
        t0 = time.perf_counter()
        ok, result = True, None
        try:
            result = fn()
        except Exception:
            ok = False
            self.failures.append(f"{self.phase}/{name}")
            traceback.print_exc(file=sys.stderr)
        t1 = time.perf_counter()
        rec = OpRecord(op_id, name, self.phase, t1 - t0, tree_cpu_s(os.getpid()) - c0,
                       stolen_share(k0, cpu_ticks()), ok)
        self.ops.append(rec)
        if self.trace:
            self._span_stack.pop()
            self.spans[span_id].update(start=t0, end=t1)
            b0 = time.perf_counter()
            rec.stages = self._probe.new_stages()
            self._account_stages(rec, t0, t1)
            self.trace_overhead[self.phase] = (
                self.trace_overhead.get(self.phase, 0.0) + time.perf_counter() - b0
            )
        return result

    def _account_stages(self, rec: OpRecord, t0: float, t1: float) -> None:
        st = rec.stages
        self.add("spark.stages", len(st))
        self.add("spark.tasks", sum(s.tasks for s in st))
        self.add("spark.executor_run_s", sum(s.run_s for s in st))
        self.add("spark.executor_cpu_s", sum(s.cpu_s for s in st))
        self.add("spark.gc_s", sum(s.gc_s for s in st))
        self.add("spark.input_bytes", sum(s.input_bytes for s in st))
        self.add("spark.input_records", sum(s.input_records for s in st))
        self.add("spark.shuffle_read_bytes", sum(s.shuffle_read_bytes for s in st))
        self.add("spark.shuffle_write_bytes", sum(s.shuffle_write_bytes for s in st))
        self.add("spark.spill_bytes", sum(s.spill_bytes for s in st))
        self.add("spark.arrow_stage_s", covered_s(
            [(s.start_ms / 1e3, s.end_ms / 1e3) for s in st if s.python]
        ))
        # wall-clock stage times are epoch ms; the op window is
        # perf_counter — rebase the window onto the epoch clock
        off = time.time() - time.perf_counter()
        w0, w1 = t0 + off, t1 + off
        busy = covered_s([
            (max(s.start_ms / 1e3, w0), min(s.end_ms / 1e3, w1))
            for s in st if s.end_ms / 1e3 > w0 and s.start_ms / 1e3 < w1
        ])
        self.add("spark.driver_gap_s", max(0.0, rec.wall_s - busy))


def setup_once(trace_layers: dict) -> tuple[object, float]:
    """One set-up: session, registry, JIT/Arrow warmup. Returns the
    session and the set-up wall time; per-step times are added to
    ``trace_layers`` lists. The engine is imported afresh each time,
    so import- and registration-time work counts in every set-up; only
    the first one launches the JVM."""
    for mod in [m for m in sys.modules if m.split(".")[0] == "programmers_data_spark"]:
        del sys.modules[mod]
    t0 = time.perf_counter()
    from programmers_data_spark.session import get_spark

    run_dir = os.path.dirname(os.environ["TMPDIR"])
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Dderby.system.home={run_dir}"
            ),
        },
    )
    t1 = time.perf_counter()
    from programmers_data_spark import registry

    registry.load_all()
    t2 = time.perf_counter()
    # one JVM job and one Arrow/Python-worker job; the workload's cold
    # phase then pays first-use costs of the plans it runs
    for df in (spark.range(32), spark.range(32).mapInPandas(lambda it: it, "id long")):
        df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    trace_layers.setdefault("session.get_spark_s", []).append(t1 - t0)
    trace_layers.setdefault("registry.load_all_s", []).append(t2 - t1)
    return spark, t3 - t0


def stop_jvm() -> None:
    """Stop the session and wait until the driver JVM has exited; a
    no-op when no JVM was launched or it is already stopped."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def instrument_quality(run) -> None:
    """Traced runs time the engine's quality gates at the points where
    the load strategies and summary builds call them."""
    from programmers_data_spark import plans, publish

    for mod, name in ((publish, "assert_non_empty"), (publish, "run_df_checks"),
                      (plans, "run_sql_checks")):
        def timed(*a, _fn=getattr(mod, name), _name=name, **kw):
            with run.timed("quality.checks_s", f"quality.{_name}"):
                return _fn(*a, **kw)
        setattr(mod, name, timed)


def _md5_s(mib: int) -> float:
    t0 = time.perf_counter()
    hashlib.md5(b"x" * (mib << 20)).hexdigest()
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor stole between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if len(delta) > 7 and sum(delta) > 0 else None


def stolen_share(before: list[int], after: list[int]) -> float:
    """Of the CPU time the host's runnable cores wanted between two
    ``/proc/stat`` readings, the share the hypervisor gave to other
    guests: steal / (user + nice + system + irq + softirq + steal).
    A CPU-bound interval of wall time w would have taken about
    w * (1 - share) on cores nobody stole from."""
    d = [b - a for a, b in zip(before, after)]
    if len(d) < 8:
        return 0.0
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted > 0 else 0.0


def host_context() -> dict:
    """Recorded with every result, never gated: a fixed single-thread
    CPU reference (md5 over 64 MiB) and the share of CPU time the
    hypervisor stole while one md5 thread per available core ran
    (hashlib releases the GIL on large buffers, so the threads load
    every core)."""
    from concurrent.futures import ThreadPoolExecutor

    cpus = len(os.sched_getaffinity(0))
    ref = _md5_s(64)
    steal = None
    with ThreadPoolExecutor(cpus) as pool:
        try:
            before = cpu_ticks()
            list(pool.map(_md5_s, [16] * cpus))
            steal = steal_pct(before, cpu_ticks())
        except (OSError, ValueError):
            pass
    return {"cpu_ref_md5_64mb_s": ref, "steal_pct_under_load": steal}
