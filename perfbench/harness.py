"""Run plumbing shared by every workload: the Spark session, the
closed-loop op runner with its failure accounting, peak-RSS sampling
and the statistics the metrics are built from."""
from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Optional


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: 1.5 GiB, or a quarter of physical memory if that is
    less, so the JVM fits next to the Python workers on a small shared
    box. The workloads' blocks and results are small; a fixed heap also
    keeps the JVM's share of peak RSS steady."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return min(1536, total_kb // 1024 // 4)


def build_spark(work: str, n_cores: int, heap: int):
    """local[n_cores] from this one driver process; every file Spark
    writes stays under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{n_cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap}m")
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(2 * n_cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.parquet.outputTimestampType",
                     "TIMESTAMP_MICROS")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# The host-speed probe: a fixed Spark job with a Python mapInArrow
# stage that does not touch oroch_spark. REF_NOMINAL_S is its median
# wall inside a run on the 4-core host the benchmark was tuned on, when
# that host was quiet. The gated timings are scaled by (probe median /
# REF_NOMINAL_S), so that a busy or idle shared host moves them less
# (see README.md).
REF_ROWS = 4_000_000
REF_NOMINAL_S = 1.1


def reference_job(spark, tasks: int) -> float:
    """Run the host-speed probe once; returns its wall seconds."""
    import numpy as np
    from pyspark.sql import functions as F

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            x = b.column(0).to_numpy()
            y = np.sort((x * 2654435761) % 1000003)
            yield pa.RecordBatch.from_arrays(
                [pa.array([int(y.sum())], pa.int64())], names=["s"])

    t0 = time.perf_counter()
    got = (spark.range(0, REF_ROWS, 1, numPartitions=tasks)
           .mapInArrow(kernel, "s long").agg(F.sum("s")).collect()[0][0])
    wall = time.perf_counter() - t0
    want = int(((np.arange(REF_ROWS, dtype=np.int64) * 2654435761)
                % 1000003).sum())
    if got != want:
        raise RuntimeError(f"host-speed probe answered {got}, not {want}")
    return wall


class OpFailure(Exception):
    """An op returned a wrong answer."""


@dataclass
class Ledger:
    """Every op attempted, every failure with its repr. A wrong answer
    is a failure like an exception is."""
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def fail(self, kind: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: {exc!r}")


@dataclass
class Samples:
    """Wall seconds per op kind, and the turns one op of that kind
    covers."""
    wall: dict = field(default_factory=dict)
    turns: dict = field(default_factory=dict)

    def add(self, kind: str, seconds: float, turns: int) -> None:
        self.wall.setdefault(kind, []).append(seconds)
        self.turns[kind] = turns

    def medians(self) -> dict:
        return {k: statistics.median(v) for k, v in self.wall.items()}

    def p50_ms(self) -> float:
        """Geometric mean over op kinds of each kind's median, so every
        kind weighs the same whatever its absolute cost."""
        meds = self.medians().values()
        return 1000.0 * math.exp(sum(math.log(m) for m in meds) / len(meds))

    def turns_per_s(self) -> float:
        """Turns covered by one op of each kind over the summed medians:
        the rate of one pass through the workload's mix."""
        meds = self.medians()
        return sum(self.turns[k] for k in meds) / sum(meds.values())


def tail(values: list) -> tuple:
    """The highest percentile that still has at least ten samples
    beyond it: (percentile, value). Needs 11 samples or more."""
    xs = sorted(values)
    k = len(xs) - 11
    if k < 0:
        raise ValueError(f"tail needs 11 samples, got {len(xs)}")
    pct = 100.0 * k / (len(xs) - 1) if len(xs) > 1 else 0.0
    return pct, xs[k]


@dataclass
class Op:
    """One closed-loop op. ``plan`` makes the public call(s) that come
    before the action and returns what ``act`` runs; ``check`` raises
    on a wrong answer. ``walk`` says whether ``plan`` returns the very
    DataFrame ``act`` executes, so its plan metrics can be read."""
    kind: str
    turns: int
    plan: Callable
    act: Callable
    check: Callable
    walk: bool = True


def run_op(ledger: Ledger, samples: Samples, op: Op, tracer=None):
    """Time ``plan`` + ``act``, then check the answer outside the timed
    region. Exceptions and wrong answers are counted, never
    swallowed; the op's wall is kept either way."""
    ledger.attempted += 1
    op_id = tracer.begin_op(op.kind) if tracer else None
    planned = out = None
    t0 = time.perf_counter()
    t_plan = None
    try:
        planned = op.plan()
        t_plan = time.perf_counter()
        out = op.act(planned)
    except Exception as exc:  # noqa: BLE001 - counted and reported
        ledger.fail(op.kind, exc)
        out = exc
    t_end = time.perf_counter()
    samples.add(op.kind, t_end - t0, op.turns)
    if tracer:
        tracer.end_op(op_id, op.kind, t0, t_plan or t_end, t_end,
                      df=planned if op.walk and t_plan else None)
    if isinstance(out, Exception):
        return None
    try:
        op.check(out)
    except Exception as exc:  # noqa: BLE001 - counted and reported
        ledger.fail(op.kind, exc)
    return out


def measure(seconds: float, min_rounds: int, round_fn: Callable) -> int:
    """Closed loop with one client: run whole rounds of the workload's
    mix, at least ``min_rounds``, and after that only while the next
    round (timed like the last one) still fits in ``seconds``. Returns
    the round count."""
    t0 = time.perf_counter()
    rounds, last = 0, 0.0
    while rounds < min_rounds or (
            time.perf_counter() - t0 + last <= seconds):
        t = time.perf_counter()
        round_fn(rounds)
        last = time.perf_counter() - t
        rounds += 1
    return rounds


def _tree_pids(root: int) -> list:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled from /proc. This process is left
    out: besides the py4j client it holds the benchmark's generated
    source and oracle data, which the program under test does not
    control and which grow with the number of rounds run."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _tree_pids(os.getpid())[1:])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False

    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
