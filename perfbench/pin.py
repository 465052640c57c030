"""Re-pins the output check. For each data directory it runs every workload
once (untimed warm passes) to take the deck and each query's fingerprint,
writes the decks' outputs with graft.Verify, and compares them with the
DuckDB oracles through tools/compare.py. Only when every deck query agrees
with its oracle are the fingerprints recorded in perfbench/expected.json.
A deck query without an oracle cannot be pinned.

Usage, from the repository root:
  python3 perfbench/pin.py [DATA_DIR ...]   (default: every perfbench/data/*)
"""
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import build  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402

WORKLOADS = ["explore", "curate"]


def verify(data_dir: Path, deck, out: Path):
    """Writes the deck queries' outputs and their oracle SQL under `out`,
    keeping only the deck's oracle entries for the comparison."""
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = (["java", f"-Xmx{run.HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={build.WORK / 'tmp'}"] + build.ADD_OPENS
           + ["-cp", build.classpath(), "graft.Verify", str(data_dir), str(out), ",".join(deck)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=str(build.WORK / "spark-local"))
    if subprocess.run(cmd, env=env, cwd=build.WORK).returncode != 0:
        raise SystemExit("pin: graft.Verify failed")
    oracle_file = out / "oracle_sql.json"
    oracle = json.loads(oracle_file.read_text())
    oracle_file.write_text(json.dumps({n: oracle[n] for n in deck if n in oracle}))
    return [n for n in deck if n not in oracle]


def pin(data_dir: Path):
    """The fingerprints of every deck query, or None if one disagrees with
    its oracle or has none."""
    pins, decks = {}, []
    for workload in WORKLOADS:
        args = run.parse_args(["--workload", workload, "--seed", "0", "--seconds", "0",
                               "--trace", "0", "--data", str(data_dir)])
        out = build.WORK / f"pin-{data_dir.name}-{workload}.json"
        result = run.harness(args, out, time.monotonic() + 3600)
        decks += result["deck"]
        for name, fp in result["checks"].items():
            if "error" in fp:
                print(f"FAIL {name}: {fp['error']}")
                return None
            pins[name] = fp
    no_oracle = verify(data_dir, decks, build.WORK / "pin" / data_dir.name)
    for name in no_oracle:
        print(f"FAIL {name}: no oracle")
    if compare.main(str(data_dir), str(build.WORK / "pin" / data_dir.name)) or no_oracle:
        return None
    return pins


def main(argv):
    dirs = [Path(a) for a in argv] or sorted(p for p in (run.HERE / "data").iterdir() if p.is_dir())
    build.build()
    (build.WORK / "tmp").mkdir(parents=True, exist_ok=True)
    expected = json.loads(run.EXPECTED.read_text()) if run.EXPECTED.exists() else {}
    failed = False
    for d in dirs:
        pins = pin(d.resolve())
        if pins is None:
            failed = True
        else:
            expected[d.name] = pins
    run.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
