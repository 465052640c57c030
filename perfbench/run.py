"""Runs one benchmark run of one workload and prints its metrics.

Usage, from the repository root:
  python3 perfbench/run.py --workload explore|curate --seed N \
      --seconds S --trace 0|1 [--data DIR]

Builds the engine and harness on first use (perfbench/build.py), runs
graftbench.Harness in one JVM, checks every deck query's output against its
pinned fingerprint (perfbench/expected.json) and prints, as the last line
of standard output, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import layers  # noqa: E402

HERE = Path(__file__).resolve().parent
DEFAULT_DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"
TIME_LIMIT_S = 170
HEAP = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", type=Path, default=DEFAULT_DATA)
    return p.parse_args(argv)


def harness(args, out: Path, deadline: float, extra=()):
    """Runs the harness JVM; returns its result document."""
    tmp = build.WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    log = build.WORK / f"{out.stem}.log"
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + build.ADD_OPENS
           + ["-cp", build.classpath(), "graftbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", str(args.data.resolve()), "--cpus", str(len(os.sched_getaffinity(0))),
              "--work", str(build.WORK), "--out", str(out), *extra])
    out.unlink(missing_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(build.WORK / "spark-local"))
    with open(log, "wb") as sink:
        try:
            code = subprocess.run(cmd, stdout=sink, stderr=subprocess.STDOUT, env=env,
                                  timeout=max(1.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: harness exceeded the time limit; log in {log}")
    if code != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-15:]
        raise SystemExit(f"run: harness failed (exit {code}); log in {log}\n" + "\n".join(tail))
    return json.loads(out.read_text())


def check_outputs(result, pins):
    """Deck queries whose output does not match its pin, with the reason."""
    bad = {}
    for name, got in result["checks"].items():
        pin = pins.get(name)
        if pin is None:
            bad[name] = "no pinned output"
        elif "error" in got:
            bad[name] = got["error"]
        elif got["rows"] != pin["rows"]:
            bad[name] = f"{got['rows']} rows, expected {pin['rows']}"
        elif got["sha"] != pin["sha"]:
            bad[name] = "values differ from the pinned output"
    return bad


def report(result, pins, trace):
    """The run's result line: every execution of a query that threw or whose
    output check failed counts as failed."""
    run = layers.Run(result)
    bad = check_outputs(result, pins)
    failed = [q for q in run.queries if q["counters"].get("failed") or q["name"] in bad]
    for name, why in sorted(bad.items()):
        print(f"check failed: {name}: {why}", file=sys.stderr)
    for e in result["errors"]:
        print(f"query failed: {e['pass']} {e['query']}: {e['error']}", file=sys.stderr)
    if trace:
        values, units = layers.per_layer(run), layers.PER_LAYER
    else:
        values, info = layers.end_to_end(run, len(failed), len(run.queries))
        units = layers.END_TO_END
        print(f"warm samples {info['warm_samples']}, above p90 {info['samples_above_p90']}",
              file=sys.stderr)
    return {
        "correct": not bad and not failed,
        "attempted": len(run.queries),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None):
    start = time.monotonic()
    args = parse_args(argv)
    build.build()
    out = build.WORK / f"run-{args.workload}-{args.seed}-trace{args.trace}.json"
    result = harness(args, out, start + TIME_LIMIT_S)
    pins = json.loads(EXPECTED.read_text()).get(args.data.name, {})
    print(json.dumps(report(result, pins, args.trace)))


if __name__ == "__main__":
    main()
