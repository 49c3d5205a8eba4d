"""Machinery shared by the workloads: the Spark set-up, per-op timing with
failure accounting, the in-memory tracer behind ``--trace 1`` and the
statistics the report is made of.

Nothing here reaches inside the package.  Spans are recorded around the
calls the workloads make into the package's public functions; py4j calls
are counted by wrapping the gateway client's ``send_command`` and Spark
jobs through per-span job groups read back from ``statusTracker``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shlex
import statistics
import subprocess
import time


def configure_environment(work_dir: str) -> None:
    """Point every scratch location of Spark and its workers into
    ``work_dir``; must run before pyspark starts the JVM."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the package defaults to a 16g heap, more than this class of box has
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    # -XX:-UsePerfData: neither the launcher JVM nor the driver JVM
    # writes an hsperfdata file into the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
    args += ["--driver-java-options", java_opts]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


def start_session(app_name: str):
    """``get_spark`` plus one JVM-only warm-up job."""
    from hadoop_logfile_inputformat_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    return spark


def shut_down(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a stuck JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(xs):
    """Highest whole percentile with at least ten samples beyond it, as
    ``(p, value)`` by nearest rank; ``None`` below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    ordered = sorted(xs)
    return p, ordered[max(0, math.ceil(p / 100 * n) - 1)]


# ---------------------------------------------------------------- ops


class Ops:
    """Runs each op in its own handler.  An op that raises, or whose
    output check reports a problem, counts as failed; the run goes on
    with the next op, so one failure does not void the others."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.samples: dict = {}
        self.rounds: dict = {}
        #: the round the next calls belong to; ``None`` outside the rounds
        self.round = None
        self.attempted = 0
        self.failures: list = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    def run(self, kind: str, fn, check=None):
        """Time ``fn()``; then, outside the timed region, call
        ``check(result)``, which returns ``None`` or a problem string."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                out = fn()
        except Exception as exc:  # noqa: BLE001 - per-op failure boundary
            self._fail(kind, exc)
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        self.rounds.setdefault(kind, []).append(self.round)
        if check is not None:
            try:
                problem = check(out)
            except Exception as exc:  # noqa: BLE001 - a crashing check fails the op
                problem = exc
            if problem:
                self._fail(kind, problem)
        return out

    def _fail(self, kind: str, problem) -> None:
        if isinstance(problem, BaseException):
            lines = str(problem).strip().splitlines()
            problem = f"{type(problem).__name__}: {lines[0] if lines else ''}"
        self.failures.append({"op": kind, "error": str(problem)[:300]})

    def first(self, kind: str) -> float:
        xs = self.samples.get(kind) or [float("nan")]
        return xs[0]

    def warm(self, kind: str) -> list:
        """Calls of ``kind`` made in the warm rounds, i.e. after round 0."""
        return [t for t, r in zip(self.samples.get(kind, []), self.rounds.get(kind, []))
                if r is not None and r > 0]


# ---------------------------------------------------------------- tracing


class Tracer:
    """Spans kept in memory: name, start, end, parent span and op id,
    plus the py4j calls made and the time spent waiting on them while
    the span was innermost.  Disabled, every method is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._op = None
        self._next_id = 0
        self._internal = False
        self._sc = None
        self.round = 0

    def attach(self, spark) -> None:
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._internal or not self._stack:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                top = self._stack[-1]
                top["py4j"] += 1
                top["py4j_s"] += time.perf_counter() - t0

        client.send_command = counted

    @contextlib.contextmanager
    def internal(self):
        """Py4j traffic of the tracer itself, left out of the counts."""
        prev, self._internal = self._internal, True
        try:
            yield
        finally:
            self._internal = prev

    @contextlib.contextmanager
    def op(self, kind: str):
        if not self.enabled:
            yield
            return
        self._op = f"{kind}#{self._next_id}"
        try:
            with self.span(kind):
                yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": self._next_id, "parent": parent["id"] if parent else None,
            "op": self._op, "round": self.round, "name": name, "start": time.perf_counter(),
            "end": None, "py4j": 0, "py4j_s": 0.0,
        }
        self._next_id += 1
        self._set_group(span)
        self._stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(span)

    def _set_group(self, span) -> None:
        if self._sc is None:
            return
        with self.internal():
            if span is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(f"perfbench-{span['id']}", span["name"])

    def finish(self) -> None:
        """Attach Spark job counts to every span (jobs of child spans are
        counted in the child only) and compute self times."""
        if not self.enabled:
            return
        if self._sc is not None:
            time.sleep(0.5)  # let the listener bus deliver the last job events
            with self.internal():
                tracker = self._sc.statusTracker()
                for s in self.spans:
                    s["jobs"] = len(tracker.getJobIdsForGroup(f"perfbench-{s['id']}"))
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["self_s"] = s["dur"] - sum(
                c["end"] - c["start"] for c in children.get(s["id"], [])
            )
            s.setdefault("jobs", 0)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    def ops_of(self, kind: str) -> list:
        """Root spans of every op of ``kind``, in call order."""
        return sorted(
            (s for s in self.spans if s["parent"] is None and s["name"] == kind),
            key=lambda s: s["start"],
        )

    def subtree(self, root) -> list:
        return [s for s in self.spans if s["op"] == root["op"]]


def collect_df(tracer: Tracer, name: str, build):
    """Build a DataFrame with ``build()`` inside span ``name`` and collect
    it.  Traced, planning is forced first so optimisation, physical
    planning and execution get spans of their own, and the plan shape
    and SQL metrics are read after the collect."""
    with tracer.span(name):
        df = build()
    if not tracer.enabled:
        return df.collect()
    qe = df._jdf.queryExecution()
    with tracer.span("catalyst.optimize"):
        qe.optimizedPlan()
    with tracer.span("catalyst.physical"):
        plan = qe.executedPlan()
    with tracer.internal():
        # read before execution, as tools/plan_report does: the final
        # adaptive plan prints the initial plan beside it
        exchanges = audit(plan.toString())["exchanges"]
    with tracer.span("spark.execute") as span:
        rows = df.collect()
    with tracer.internal():
        span.update(plan_stats(qe.executedPlan()), exchanges=exchanges)
    return rows


def audit(plan_text: str) -> dict:
    from tools.plan_report import audit as plan_audit

    return plan_audit(plan_text)


def plan_stats(plan) -> dict:
    """Shuffle bytes written and broadcast build time, from the SQL
    metrics of an executed plan."""
    shuffle_bytes = 0
    broadcast_ms = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if kind.startswith("ShuffleExchange"):
            m = metrics.get("shuffleBytesWritten")
            shuffle_bytes += m.get().value() if m.isDefined() else 0
        elif kind.startswith("BroadcastExchange"):
            m = metrics.get("buildTime")
            broadcast_ms += m.get().value() if m.isDefined() else 0
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return {
        "shuffle_bytes": shuffle_bytes,
        "broadcast_build_s": broadcast_ms / 1000.0,
    }
