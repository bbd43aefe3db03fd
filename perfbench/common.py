"""Process set-up shared by the workloads: where the program is
imported from, where Spark writes, how the measured process tree is
started and stopped, and how the result line is printed."""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import time

from perfbench import metrics, procstat

#: Spark runs local[4]: the benchmark host has 4 vCPUs, and a fixed
#: width keeps runs on bigger hosts comparable.
CPUS = "4"


class Run:
    """One benchmark process: its work directory, its Spark session
    and the tallies behind the result line."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = os.getcwd()
        self.work = os.path.join(self.root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.started = procstat.process_start_time()
        self.render_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark = None

    # -- environment -------------------------------------------------------

    def check_program(self) -> None:
        """The program is the package in the checkout root; refuse to
        measure anything else (an installed copy, or nothing)."""
        pkg = os.path.join(self.root, "divolte_collector_spark", "__init__.py")
        if not os.path.isfile(pkg):
            raise SystemExit(
                f"perfbench: no divolte_collector_spark package under {self.root}; "
                "run from the root of a checkout"
            )
        sys.path.insert(0, self.root)
        import divolte_collector_spark

        if os.path.realpath(divolte_collector_spark.__file__) != os.path.realpath(pkg):
            raise SystemExit("perfbench: divolte_collector_spark imported from elsewhere")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        # Spark and its Python workers write only under the work dir,
        # and the workers import the package from the checkout
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options -Djava.io.tmpdir={self.path('tmp')} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={self.path('warehouse')} pyspark-shell"
        )

    def start_spark(self):
        from divolte_collector_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup_done(self) -> float:
        """Seconds from process start to now, input rendering excluded."""
        return time.time() - self.started - self.render_s

    # -- teardown ----------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark, then the JVM, then anything left in the tree, and
        wait for each to exit; finally remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        _reap_tree()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- result ------------------------------------------------------------

    def emit(self, measured: dict[str, tuple[float, str]], context: dict) -> None:
        """Print the context line, then the result line with every
        catalog metric of this run's kind."""
        values = metrics.complete(measured, self.trace)
        context = dict(context, workload=self.workload, seed=self.seed,
                       attempted=self.attempted, failed=self.failed,
                       error_rate=self.failed / max(1, self.attempted),
                       notes=self.notes)
        print("perfbench context " + json.dumps(context, sort_keys=True, default=float))
        print(
            json.dumps(
                {
                    "correct": self.failed == 0,
                    "attempted": int(max(1, self.attempted)),
                    "failed": int(self.failed),
                    "metrics": {
                        k: {"value": float(v), "unit": u} for k, (v, u) in values.items()
                    },
                }
            ),
            flush=True,
        )


def _reap_tree() -> None:
    """Terminate and wait for any process this one started that is
    still alive (JVM stragglers, Python workers)."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        stats = procstat._all_stats()
        kids = [p for p in procstat.tree_of(stats, me) if p != me]
        if not kids:
            break
        for p in kids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                     and _state(p) != "Z"]
            if not alive:
                break
            if pid == 0:
                time.sleep(0.1)
    while True:  # collect zombies of direct children
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
        return text[text.rindex(")") + 2]
    except (OSError, ValueError):
        return "X"
