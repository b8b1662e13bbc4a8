"""Self-tests of the benchmark itself (not of the program):

    python3 perfbench/selftest.py          # from the repo root, ~5 minutes

1. the InfluxDB 3 tree generator is deterministic: one seed gives the
   same data files and snapshot bytes, another seed different ones;
2. BENCHMARK.json and LAYERS.json agree, and every metric name matches
   [A-Za-z0-9_.-]+; every name a run prints is declared;
3. each output check catches a planted fault (a dropped row, an unsorted
   part, a failed op, a wrong query result), and the fault shows in
   `failed` and so in error_rate, while a clean run reports none.

Exits 0 when every test passes."""
import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
failures = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def bench_run(workload, plant="", seconds=1, trace=0):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", str(seconds), "--trace", str(trace)]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return None, p.stderr[-2000:]
    facts = json.loads(p.stdout.splitlines()[-2])["facts"]
    return json.loads(p.stdout.splitlines()[-1]), facts


def test_generator():
    build.build()
    out = run.OUT / "selftest"
    p = subprocess.run(run.jvm_cmd("kbench.SelfTest", [str(out)]),
                       capture_output=True, text=True, timeout=300)
    res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else {}
    expect(res.get("same_seed_identical") is True,
           f"generator: same seed, byte-identical tree ({res.get('files')} files)")
    expect(res.get("other_seed_differs") is True, "generator: another seed, other bytes")


def test_names():
    bench, layers = run.spec()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    expect(all(NAME.match(n) for n in names), "every declared name matches [A-Za-z0-9_.-]+")
    expect(len(names) == len(set(names)), "every declared name is used once")
    expect(set(layers["metric_workload"]) == {m["name"] for m in bench["per_layer"]},
           "LAYERS.json maps exactly the per-layer metrics of BENCHMARK.json")
    expect(any(m["name"] == "setup_s" for m in bench["end_to_end"]), "setup_s is end-to-end")


def test_faults():
    declared = {m["name"] for m in run.spec()[0]["end_to_end"]}
    res, facts = bench_run("compact_hourly")
    expect(res is not None and res["correct"] and res["failed"] == 0,
           f"compact_hourly clean run passes its checks: {res or facts}")
    if res:
        expect(set(res["metrics"]) == declared and all(NAME.match(n) for n in res["metrics"]),
               "a run prints exactly the declared end-to-end names")
    for plant, sign in [("drop_row", "rows"), ("unsorted_part", "out of time order"),
                        ("failed_op", "IllegalArgumentException")]:
        res, facts = bench_run("compact_hourly", plant)
        caught = res is not None and not res["correct"] and res["failed"] > 0
        named = caught and any(sign in p for p in facts["problems"])
        expect(named, f"compact_hourly: planted {plant} counted in failed "
                      f"({res and res['failed']}/{res and res['attempted']}) and named")
    res, facts = bench_run("query_mix", "drop_row")
    expect(res is not None and res["failed"] > 0 and
           any("rows, recorded" in p for p in facts["problems"]),
           "query_mix: a wrong query result fails the digest check")


if __name__ == "__main__":
    test_generator()
    test_names()
    test_faults()
    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)
