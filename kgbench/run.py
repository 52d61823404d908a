"""KG-construction benchmark: one (workload, seed) run per invocation.

    python3 kgbench/run.py --workload csv_import --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One driver process runs one job at
a time (closed loop) on ``local[nproc]``:

1. inputs: generated from ``--seed`` and cached under ``kgbench/.work``,
   outside every timing, together with their expected outputs;
2. set-up: Spark session via ``session.get_spark`` plus one warm-up job on a
   small slice of the workload (JVM, JIT, Python worker pool): ``setup_s``;
3. measurement: jobs back to back until their job time sums to
   ``--seconds``; every job's output is checked, and its staging/output
   files are measured, then deleted, outside the job time;
4. with ``--trace 1``: one more job under the span tracer (tracing.py), and
   one job on ``local[1]`` for the parallel-efficiency baseline.

Human-readable lines go to stdout first; the last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from inputs import NEEDS_SPARK, input_set, set_dir  # noqa: E402
from probes import PeakRss, dir_bytes, stop_spark  # noqa: E402
from tracing import PER_LAYER, traced_run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "kgbench" / ".work"
NPROC = os.cpu_count() or 1
# workloads.WORKLOADS names them too, but importing it needs the program,
# whose presence is checked after the arguments are parsed
WORKLOAD_NAMES = ("csv_import", "csv_upsert", "kg_linking", "kg_megathread")

# name -> (unit, better)
END_TO_END = {
    "rows_per_s": ("rows/s", "higher"),
    "job_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "store_bytes_per_input_byte": ("ratio", "lower"),
    "triple_precision": ("ratio", "higher"),
    "triple_recall": ("ratio", "higher"),
}


def _environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and make the program importable by the pyspark workers."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # C1 only: the JIT settles within the warm-up job (C2 takes about three
    # more full jobs). C1-only mode shrinks the code cache to 48 MB, which
    # filled up mid-run and switched the compiler off, so it is enlarged.
    # No /tmp/hsperfdata_* files; JVM temp files under the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    # get_spark sizes shuffle partitions from the declared core count
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    # a heap sized for these inputs, not the 8g default: the peak RSS then
    # reflects live data instead of how far G1 let an idle heap grow
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


class Bench:
    def __init__(self, workload, seed: int, seconds: int):
        from nebula_importer_spark.session import get_spark

        self.get_spark = get_spark
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.run_dir = WORK / f"run-{os.getpid()}"
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    # -- set-up -------------------------------------------------------------
    def start(self, master: str) -> float:
        t = time.time()
        self.spark = self.get_spark(master=master)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t

    def warmup(self, inp: Path) -> float:
        """One checked job on the warm-up slice; returns its job time."""
        return self.attempt(inp / "warmup")["job_s"]

    def setup(self) -> tuple[Path, float]:
        """Inputs first, then the session and the warm-up job. Returns the
        input set and ``setup_s``, which leaves input generation out."""
        t = time.time()
        inp = self.inputs()
        gen_s = time.time() - t
        self.layer["session.start_s"] = self.start(f"local[{NPROC}]")
        session_up = time.time()
        self.layer["session.warmup_s"] = self.warmup(inp)
        return inp, (session_up - PROCESS_START - gen_s
                     + self.layer["session.warmup_s"])

    def inputs(self) -> Path:
        wl = self.wl
        args = (wl.name, self.seed, wl.size, wl.warmup_size)
        if wl.name in NEEDS_SPARK and not set_dir(WORK, *args).is_dir():
            # these generators run Spark jobs: a JVM of their own keeps the
            # measured one cold until set-up
            subprocess.run(
                [sys.executable, str(Path(__file__).with_name("inputs.py")),
                 *map(str, args)], check=True, stdout=sys.stderr)
        return input_set(WORK, *args)

    # -- one job ------------------------------------------------------------
    def attempt(self, inp: Path, tracer=None) -> dict:
        """Run one job on the input set ``inp`` and check its output."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.run_dir.mkdir(parents=True)
        self.wl.prepare(inp, self.run_dir)
        expected = json.loads((inp / "expected.json").read_text())
        self.attempted += 1
        out = {"ok": False, "result": None}
        t = time.perf_counter()
        try:
            if tracer is None:
                out["result"] = self.wl.job(self.spark, inp, self.run_dir)
            else:
                with tracer.span("job"):
                    out["result"] = self.wl.job(self.spark, inp, self.run_dir)
            out["job_s"] = time.perf_counter() - t
            errors, out["pr"] = self.wl.check(
                self.spark, self.run_dir, out["result"], expected)
        except Exception:  # noqa: BLE001 — a failed job is a counted outcome
            out["job_s"] = time.perf_counter() - t
            errors = [traceback.format_exc()]
        out["store_bytes"] = dir_bytes(self.run_dir)
        out["input"] = expected
        if errors:
            self.failed += 1
            print(f"[kgbench] {self.wl.name} job failed its check:\n"
                  + "\n".join(errors), file=sys.stderr, flush=True)
        else:
            out["ok"] = True
        return out

    def window(self, inp: Path) -> tuple[list[dict], float]:
        """Closed loop: jobs back to back until their summed job time reaches
        ``seconds`` (output checks and clean-up between jobs not counted)."""
        jobs = []
        with PeakRss() as rss:
            while sum(j["job_s"] for j in jobs) < self.seconds:
                jobs.append(self.attempt(inp))
        return jobs, rss.peak_bytes

    def stop(self) -> None:
        stop_spark(self.spark)


def _end_to_end(jobs: list[dict], setup_s: float) -> dict:
    ok = [j for j in jobs if j["ok"]] or jobs
    job_s = statistics.median(j["job_s"] for j in ok)
    expected = ok[0]["input"]
    prs = [j["pr"] for j in ok if "pr" in j] or [(0.0, 0.0)]
    return {
        "rows_per_s": expected["input_rows"] / job_s,
        "job_s": job_s,
        "setup_s": setup_s,
        "store_bytes_per_input_byte": statistics.median(
            j["store_bytes"] for j in ok) / expected["input_bytes"],
        "triple_precision": statistics.median(p for p, _ in prs),
        "triple_recall": statistics.median(r for _, r in prs),
    }


def _print_summary(b: Bench, jobs: list[dict], metrics: dict,
                   peak_rss_mb: float) -> None:
    times = sorted(j["job_s"] for j in jobs)
    print(f"kgbench {b.wl.name} seed={b.seed} master=local[{NPROC}] "
          f"jobs={len(jobs)} attempted={b.attempted} failed={b.failed}")
    for k, v in metrics.items():
        unit = END_TO_END[k][0]
        extra = ""
        if k == "job_s":
            # with fewer than 20 samples no percentile below the max has
            # ten samples beyond it; the max is the highest one supported
            extra = (f"  (median of n={len(times)}; max {times[-1]:.3f} s; "
                     f"all {[round(t, 3) for t in times]})")
        if k == "setup_s":
            extra = (f"  (process start to session up "
                     f"{v - b.layer['session.warmup_s']:.3f} s + warm-up job "
                     f"{b.layer['session.warmup_s']:.3f} s)")
        print(f"  {k:28s} {v:14.6g} {unit}{extra}")
    # printed, not in the JSON line: failed_share is 0 in a passing run, and
    # peak RSS moves with how many pyspark workers happen to be alive
    print(f"  {'peak_rss_mb':28s} {peak_rss_mb:14.6g} MB")
    print(f"  {'failed_share':28s} {b.failed / b.attempted:14.6g} ratio")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not (ROOT / "nebula_importer_spark" / "__init__.py").is_file():
        print(f"kgbench: no nebula_importer_spark package under {ROOT}; run "
              "from the root of a source checkout", file=sys.stderr)
        return 2
    _environment()
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    b = Bench(WORKLOADS[args.workload], args.seed, args.seconds)
    try:
        inp, setup = b.setup()
        jobs, peak_rss = b.window(inp)
        peak_rss_mb = peak_rss / 2**20
        metrics = end_to_end = _end_to_end(jobs, setup)
        if args.trace:
            metrics = traced_run(b, inp, end_to_end["job_s"], peak_rss_mb,
                                 NPROC)
    finally:
        b.stop()
        shutil.rmtree(b.run_dir, ignore_errors=True)
    _print_summary(b, jobs, end_to_end, peak_rss_mb)
    units = END_TO_END
    if args.trace:
        units = PER_LAYER
        for k, v in metrics.items():
            print(f"  {k:32s} {v:14.6g} {units[k][0]}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k][0]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
