"""Benchmark of the link-graph engine: one workload per process.

    python3 perfbench/run.py --workload pagerank --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run generates a transcript link
graph from ``--seed`` (``gen.py``), starts a Spark session, warms the
workload once at full size, then repeats the workload for ``--seconds``
seconds of timed work, checking every repetition against the independent
references in ``reference.py`` outside the timed region. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` its per-layer metrics: set-up and timed repetitions run
with spans around the engine's layer functions (``spans.py``) and with
the Spark event log on. Untraced repetitions of the same workload take
turns with the traced ones in the same process, and give the tracing
overhead. A run diary (host load, steal, memory, per-repetition walls)
goes to standard error.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SLOTS = 4  # local[4], and as many shuffle partitions
HEAP = "1g"
# ~70k turns and ~78k edges. Set-up, not data, dominates a run at this
# size; a larger graph makes both workloads overrun the benchmark's time
# budget on a 4-core host.
N_CONVERSATIONS = 10_000
DAMPING, TOLERANCE, PAGERANK_MAX_ITERATIONS = 0.85, 1e-6, 40
WCC_KILLED_AT = 7
REP_TIMEOUT_S = 120  # a repetition still running then is cancelled and failed


def process_age_s() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def state_mb(checkpoint_dir: Path) -> float:
    """Bytes of committed vertex state (``state_*`` directories) under a
    checkpoint directory; the metrics table beside them holds wall times."""
    return sum(f.stat().st_size for d in checkpoint_dir.glob("*/state_*") for f in d.rglob("*") if f.is_file()) / 1e6


class Workload:
    """Set-up, one repetition and its check; subclasses fill them in."""

    name = ""

    def __init__(self, bench: Bench) -> None:
        self.b = bench

    def setup(self) -> None: ...

    def prepare(self) -> None:
        """Untimed work before each repetition."""

    def warmup(self) -> None:
        """One full-size repetition, so the timed ones run on a warm JVM."""
        self.prepare()
        self.rep()

    def rep(self) -> dict: ...

    def check(self, out: dict) -> None: ...

    def load_graph(self) -> None:
        """The generator's edge table, read once; repetitions reuse the plan."""
        from graph_data_science_spark.graph.build import LinkGraph

        g = self.b.inputs
        self.graph = LinkGraph(edges=self.b.spark.read.parquet(g.path), node_count=g.nodes)


class PageRank(Workload):
    """PageRank from scratch with in-memory commits, over the stored edge table."""

    name = "pagerank"

    def setup(self) -> None:
        self.load_graph()
        self._ref = None

    def rep(self) -> dict:
        res = self.b.mod("algorithms.pagerank").pagerank(
            self.graph, damping=DAMPING, tolerance=TOLERANCE, max_iterations=PAGERANK_MAX_ITERATIONS
        )
        with self.b.tracer.span("algorithms.pagerank.materialize"):
            scores = res.scores.toPandas()
        return {"scores": scores, "supersteps": res.ran_iterations, "converged": res.did_converge}

    def check(self, out: dict) -> None:
        import numpy as np

        import reference

        if self._ref is None:
            g = self.b.inputs
            self._ref = reference.pagerank(g.nodes, g.src, g.dst, DAMPING, TOLERANCE, PAGERANK_MAX_ITERATIONS)
        want, want_steps = self._ref
        got = out["scores"].sort_values("node_id")
        if not out["converged"] or out["supersteps"] != want_steps:
            raise reference.CheckFailed(f"{out['supersteps']} supersteps (converged={out['converged']}), reference {want_steps}")
        if not np.array_equal(got["node_id"].to_numpy(), np.arange(want.size)):
            raise reference.CheckFailed("scores do not cover every node exactly once")
        if not np.allclose(got["score"].to_numpy(), want, rtol=0, atol=1e-6):
            raise reference.CheckFailed("scores differ from the reference by more than 1e-6")


class WccResume(Workload):
    """Durable WCC killed after round 7, then resumed to convergence."""

    name = "wcc_resume"

    def setup(self) -> None:
        self.load_graph()
        self.ckpt = self.b.work / "checkpoints"
        self._ref = None

    def warmup(self) -> None:
        """A repetition in miniature, then the uninterrupted run.

        The miniature (killed after round 1, resumed to round 2, in a
        checkpoint directory of its own) goes through the durable commit,
        parquet read and resume path that the timed repetitions use. The
        uninterrupted in-memory run at full size goes through the join plans
        of every round, and its labels are what the resumed ones must equal.
        (An uninterrupted durable run would cover both, at about 20 s more
        set-up per run, which the benchmark's time budget does not allow.)"""
        wcc = self.b.mod("algorithms.wcc").wcc
        ckpt = str(self.b.work / "warmup")
        wcc(self.graph, max_iterations=1, checkpoint_dir=ckpt)
        wcc(self.graph, max_iterations=2, checkpoint_dir=ckpt)
        shutil.rmtree(ckpt)
        res = wcc(self.graph)
        self.uninterrupted = res.components.toPandas().sort_values("node_id")["component"].to_numpy()

    def prepare(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def rep(self) -> dict:
        wcc = self.b.mod("algorithms.wcc").wcc
        killed = wcc(self.graph, max_iterations=WCC_KILLED_AT, checkpoint_dir=str(self.ckpt))
        res = wcc(self.graph, checkpoint_dir=str(self.ckpt))
        with self.b.tracer.span("algorithms.wcc.materialize"):
            labels = res.components.toPandas()
        return {"labels": labels, "supersteps": res.ran_iterations, "killed_at": killed.ran_iterations}

    def check(self, out: dict) -> None:
        import numpy as np

        import reference

        self.b.tracer.count("pregel.superstep.checkpoint_mb", state_mb(self.ckpt))  # outside the timed region
        if self._ref is None:
            g = self.b.inputs
            self._ref = reference.components(g.nodes, g.src, g.dst)
        got = out["labels"].sort_values("node_id")
        if out["killed_at"] != WCC_KILLED_AT or out["supersteps"] <= WCC_KILLED_AT:
            raise reference.CheckFailed(f"killed at round {out['killed_at']}, converged at {out['supersteps']}: nothing was resumed")
        self.check_resumed(out["supersteps"])
        if not np.array_equal(got["node_id"].to_numpy(), np.arange(self._ref.size)):
            raise reference.CheckFailed("labels do not cover every node exactly once")
        if not np.array_equal(got["component"].to_numpy(), self._ref):
            raise reference.CheckFailed("resumed labels differ from networkx components")
        if not np.array_equal(got["component"].to_numpy(), self.uninterrupted):
            raise reference.CheckFailed("resumed labels differ from the uninterrupted run")

    def check_resumed(self, last: int) -> None:
        """The second call went on from round ``WCC_KILLED_AT + 1``: every
        round 0..last was committed exactly once. Each durable commit appends
        one file to the loop's metrics table, so a second call that started
        over would commit rounds 0..7 a second time."""
        import pyarrow.parquet as pq

        import reference

        commits = sorted(
            tuple(sorted(set(pq.read_table(f, columns=["superstep"]).column("superstep").to_pylist())))
            for f in (self.ckpt / "wcc" / "metrics").glob("part-*.parquet")
        )
        if commits != [(i,) for i in range(last + 1)]:
            raise reference.CheckFailed(f"rounds committed per metrics file {commits}, want each of 0..{last} once")


WORKLOADS = {w.name: w for w in (PageRank, WccResume)}


class Bench:
    def __init__(self, args, work: Path) -> None:
        from spans import Tracer

        self.args, self.work = args, work
        self.tracer = Tracer(SLOTS)
        self.info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "slots": SLOTS, "heap": HEAP}
        self.walls: list[float] = []  # timed repetitions that passed their check
        self.supersteps: list[int] = []
        self.attempted = self.failed = 0

    @staticmethod
    def mod(name: str):
        """An engine module, looked up at call time so traced runs see the
        span wrappers. (``graph_data_science_spark.algorithms`` re-exports
        functions under its submodules' names, so attribute access on the
        package would return the function.)"""
        return importlib.import_module(f"graph_data_science_spark.{name}")

    def install_tracing(self) -> None:
        t = self.tracer
        sup = self.mod("pregel.superstep").SuperstepLoop
        pr, wcc = self.mod("algorithms.pagerank"), self.mod("algorithms.wcc")

        def supersteps(rec, args, kwargs, res):
            rec["supersteps"] = res.ran_iterations

        def rounds(rec, args, kwargs, res):
            rec["rounds"] = res.ran_iterations

        t.patch(self.mod("session"), "get_spark", "session.start")
        t.patch(pr, "pagerank", "algorithms.pagerank.run", after=supersteps)
        t.patch(pr, "sql_message_path", "pregel.spmv.edge_cache")
        t.patch(wcc, "wcc", "algorithms.wcc.run", after=rounds)
        t.patch(sup, "commit", "pregel.superstep.commit")
        t.patch(sup, "resume", "pregel.superstep.resume")

    def start_session(self) -> None:
        conf = {"spark.sql.warehouse.dir": str(self.work / "warehouse")}
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            (self.work / "eventlog").mkdir()
        self.spark = self.mod("session").get_spark(
            app_name=f"perfbench-{self.args.workload}", master=f"local[{SLOTS}]", shuffle_partitions=SLOTS, extra_conf=conf
        )
        self.tracer.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit (it exits when its stdin closes)."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def timed_reps(self, wl: Workload, phases: tuple[str, ...]) -> dict[str, list[float]]:
        """Repeat the workload for ``--seconds`` seconds of timed work per
        phase. Phases take turns, so a JVM that is still warming up favours
        none of them; only ``rep`` repetitions of a traced run are traced."""
        by_phase: dict[str, list[float]] = {p: [] for p in phases}
        timed = 0.0
        n = 0
        while n < len(phases) or timed < self.args.seconds * len(phases):
            phase = phases[n % len(phases)]
            walls = by_phase[phase]
            n += 1
            if self.args.trace and self.tracer.enabled != (phase == "rep"):
                (self.tracer.enable if phase == "rep" else self.tracer.disable)()
            wl.prepare()
            self.tracer.phase = f"{phase}{len(walls)}"
            self.attempted += 1
            timer = threading.Timer(REP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
            t0 = time.perf_counter()
            timer.start()
            try:
                out = wl.rep()
            except Exception:
                traceback.print_exc()
                out = None
            finally:
                timer.cancel()
            wall = time.perf_counter() - t0
            if self.setup_s is None:
                self.setup_s = self.age0 + (t0 - self.t0)
            walls.append(wall)
            timed += wall
            try:
                if out is None:
                    raise RuntimeError("repetition raised or timed out")
                wl.check(out)
            except Exception as exc:
                self.failed += 1
                print(f"perfbench: {phase} repetition {len(walls)} failed: {exc!r}", file=sys.stderr)
                continue
            self.walls.append(wall)
            self.supersteps.append(out["supersteps"])
        return by_phase

    def run(self) -> dict:
        import gen
        from probe import RssSampler, host_report, snapshot

        self.age0, self.t0, self.setup_s = process_age_s(), time.perf_counter(), None
        before = snapshot()
        wl = WORKLOADS[self.args.workload](self)
        if self.args.trace:
            self.install_tracing()
            self.tracer.enable()
        with RssSampler(os.getpid()) as rss:
            t = time.perf_counter()
            g = self.inputs = gen.generate(self.args.seed, N_CONVERSATIONS, str(self.work / "edges"))
            self.info.update(turns=g.turns, nodes=g.nodes, edges=g.edges, gen_s=time.perf_counter() - t)
            t = time.perf_counter()
            self.start_session()
            self.info["session_s"] = time.perf_counter() - t
            try:
                t = time.perf_counter()
                wl.setup()
                self.info["load_s"] = time.perf_counter() - t
                t = time.perf_counter()
                wl.warmup()
                self.info["warmup_s"] = time.perf_counter() - t
                walls = self.timed_reps(wl, ("untraced", "rep") if self.args.trace else ("rep",))
            finally:
                self.tracer.disable()
                self.stop_session()
        self.info.update(host_report(before, snapshot()), peak_rss_mb=rss.peak_mb, setup_s=self.setup_s)
        self.info.update(rep_walls=walls["rep"], supersteps=self.supersteps)
        ok = self.attempted - self.failed
        if self.args.trace:
            from spans import layer_metrics, read_event_log

            metrics = layer_metrics(self.tracer, read_event_log(str(self.work / "eventlog")))
            metrics["trace.untraced_wall_s"] = statistics.median(walls["untraced"])
            metrics["trace.traced_wall_s"] = statistics.median(walls["rep"])
            metrics["trace.overhead_s"] = metrics["trace.traced_wall_s"] - metrics["trace.untraced_wall_s"]
            self.info["untraced_walls"] = walls["untraced"]
        else:
            wall = statistics.median(self.walls or walls["rep"])
            steps = statistics.median(self.supersteps) if self.supersteps else 1
            metrics = {
                "wall_s": wall,
                "edges_per_s": self.info["edges"] * steps / wall,
                "setup_s": self.setup_s,
                "peak_rss_mb": rss.peak_mb,
                "ok_frac": ok / self.attempted,
            }
        return metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
    if not (ROOT / "graph_data_science_spark").is_dir():
        print(f"perfbench: engine package graph_data_science_spark not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(work / "tmp"),
        # JVM scratch (native-library extraction) inside the checkout too;
        # no hsperfdata file under /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    sys.path[:0] = [str(HERE), str(ROOT)]

    # Spark and py4j write to fd 1; keep it for the result line only.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    bench = Bench(args, work)
    try:
        metrics = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while another run uses it
            work.parent.rmdir()
    print("perfbench-info " + json.dumps(bench.info), file=sys.stderr)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in names},
    }
    print(json.dumps(result), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
