"""The repo benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload compact_hourly --seed 1 --seconds 20 --trace 0

Run from the repo root. It builds the program from source (build.py),
starts one JVM that opens one Spark session at local[nproc], generates the
workload's inputs from the seed, drives the program through its public
entry points in a closed loop for `--seconds`, checks every output, and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json; `--trace 1` the per-layer ones
(LAYERS.json says which layer and workload each belongs to). The line
before it records the host and run facts.

Tuning variables `SPARK_GRAFT_*` are removed from the program's
environment (and named in the facts), so every number measures the
program's defaults."""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # nothing is written outside .bench_build
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def spec():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "LAYERS.json").read_text())
    return bench, layers


def jvm_cmd(main_class: str, main_args) -> list:
    """The JVM command line: the flags the repo's build passes to forked
    mains, with every scratch directory inside `.bench_build`."""
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed-size heap: no resizing pauses that vary from run to run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Djava.awt.headless=true",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Dderby.system.home={OUT / 'derby'}", f"-Djava.io.tmpdir={tmp}",
                  "-cp", build.classpath(), main_class] + list(main_args)


def run_jvm(args, work: Path, env_removed) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in env_removed}
    env["SPARK_LOCAL_DIRS"] = str(OUT / "tmp" / "spark-local")
    cmd = jvm_cmd("kbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work)])
    if args.plant:
        cmd += ["--plant", args.plant]
    log = OUT / "logs" / f"{args.workload}-{args.seed}-{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, env=env, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; log in {log}")
    if proc.returncode != 0:
        tail = log.read_text()[-3000:]
        fail(f"harness exited {proc.returncode}; log {log}:\n{tail}")
    lines = [l for l in out.splitlines() if l.startswith('{"attempted"')]
    if not lines:
        fail(f"harness printed no result; log in {log}")
    return json.loads(lines[-1])


def duckdb_replay(inputs, work: Path) -> float:
    """The reference's merge query over the hot bucket's pristine inputs:
    median wall of three replays, rows checked against the inputs."""
    import duckdb
    files = ", ".join("'" + f.replace("'", "''") + "'" for f in inputs)
    dest = work / "duckdb_merge.parquet"
    walls = []
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        con.execute(f"SET temp_directory='{OUT / 'tmp' / 'duckdb'}'")
        n_in = con.execute(f"SELECT count(*) FROM read_parquet([{files}])").fetchone()[0]
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(f"COPY (SELECT * FROM read_parquet([{files}]) ORDER BY time) "
                        f"TO '{dest}' (FORMAT PARQUET, COMPRESSION ZSTD, ROW_GROUP_SIZE 100000)")
            walls.append(time.perf_counter() - t0)
        n_out = con.execute(f"SELECT count(*) FROM read_parquet('{dest}')").fetchone()[0]
    finally:
        con.close()
    if n_out != n_in:
        fail(f"duckdb replay wrote {n_out} rows of {n_in}")
    return statistics.median(walls)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default="", help=argparse.SUPPRESS)  # self-tests
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no program sources under src/main/scala/graft; run from the repo root")
    bench, layers = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")
    removed = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))

    t0 = time.perf_counter()
    source_sha = build.build()
    build_s = time.perf_counter() - t0
    work = OUT / "work" / args.workload
    res = run_jvm(args, work, set(removed))
    values = res["metrics"]
    facts = res["facts"]

    if args.trace:
        wanted = bench["per_layer"]
        if args.workload == "compact_hourly":
            inputs = facts.pop("hot_bucket_inputs")
            duck = duckdb_replay(inputs, work)
            values["ref.duckdb_merge_s"] = duck
            values["compact.vs_duckdb"] = duck / values["compact.one_bucket_s"]
        # a layer the workload bypasses did no work: it reads 0
        owner = layers["metric_workload"]
        for m in wanted:
            if m["name"] not in values and owner[m["name"]] not in ("all", args.workload):
                values[m["name"]] = 0.0
    else:
        wanted = bench["end_to_end"]
    facts.pop("hot_bucket_inputs", None)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    extra = sorted(set(values) - {m["name"] for m in wanted})
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    facts.update({
        "git_commit": git_commit(), "source_sha256": source_sha,
        "build_s": build_s, "heap": HEAP,
        "flush_policy": "no fsync: writes land in the page cache, so I/O "
                        "times are those of this host's file system cache, not a device",
        "spark_graft_env_removed": removed,
        "missing_metrics": missing, "unexpected_metrics": extra,
    })
    print(json.dumps({"facts": facts}))
    correct = res["failed"] == 0 and not missing and not extra
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
