"""graft benchmark: one closed-loop workload per run, every answer checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads (see BENCHMARK.json for why each exists):
  search_ref    top-10 on the RAM tier at N=150,346 x D=384, 2 backends x 4 filters
  serve_ingest  2,000 x 64 vectors + 5,000 curated documents, all four backends,
                24 reads then 1 ingest

The last stdout line is one JSON object {correct, attempted, failed, metrics}:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
The line before it is a context object (cpus, master, heap, seed, commit,
sample counts per operation kind, setup time of each rep).

--selftest runs every workload on tiny inputs three ways (plain, traced,
and with every second result corrupted) and checks that every metric
prints with its unit and that the corrupted results count as failed.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
HEAP = {"search_ref": "4g", "serve_ingest": "2g"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
KEEP_INPUTS = 3  # cached input sets kept per workload


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except OSError:
        pass
    stamp = os.path.join(build.build_dir(), "classes.sha256")
    return "src-" + open(stamp).read()[:12] if os.path.exists(stamp) else "unknown"


def evict_inputs(inputs):
    """Keep the KEEP_INPUTS most recently used input sets per workload."""
    by = {}
    for d in os.listdir(inputs):
        by.setdefault(d.split("-")[0], []).append(os.path.join(inputs, d))
    for dirs in by.values():
        dirs.sort(key=os.path.getmtime, reverse=True)
        for d in dirs[KEEP_INPUTS:]:
            shutil.rmtree(d, ignore_errors=True)


def run_jvm(workload, seed, seconds, trace, extra=()):
    """Run one workload in a private directory; return its stdout lines."""
    classes = build.build()
    base = build.build_dir()
    work = os.path.join(base, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    inputs = os.path.join(base, "inputs")
    os.makedirs(inputs, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [build.java(), f"-Xmx{HEAP[workload]}", "-Xss16m", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           *opens, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graftbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work,
           "--inputs", inputs, "--traces", os.path.join(base, "traces"), "--git", commit(),
           *extra]
    err_path = os.path.join(base, f"stderr-{workload}-{seed}.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            out = None
    shutil.rmtree(work, ignore_errors=True)
    evict_inputs(inputs)
    with open(err_path) as f:
        tail = f.read()[-3000:]
    if out is None:
        raise RuntimeError(f"{workload}: timed out after {TIMEOUT_S}s\n{tail}")
    if p.returncode != 0:
        raise RuntimeError(f"{workload}: exit {p.returncode}\n{tail}")
    return [l for l in out.splitlines() if l.strip()]


def validate(result, trace):
    """The result line carries exactly the declared metrics, with units."""
    s = spec()
    want = {m["name"]: m["unit"] for m in (s["per_layer"] if trace else s["end_to_end"])}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, sorted(result)
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int) and 0 <= result["failed"] <= result["attempted"]
    got = result["metrics"]
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    for name, m in got.items():
        assert set(m) == {"value", "unit"} and m["unit"] == want[name], (name, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)


def once(workload, seed, seconds, trace, extra=()):
    lines = run_jvm(workload, seed, seconds, trace, extra)
    result = json.loads(lines[-1])
    validate(result, trace)
    return lines, result


def selftest():
    ok = True
    for w in HEAP:
        for trace, corrupt in ((0, 0), (1, 0), (0, 2)):
            extra = ["--scale", "tiny"] + (["--corrupt", str(corrupt)] if corrupt else [])
            t0 = time.time()
            try:
                _, r = once(w, 7, 2, trace, extra)
                good = (r["failed"] >= 1 and not r["correct"]) if corrupt else \
                    (r["failed"] == 0 and r["correct"])
                msg = f"attempted={r['attempted']} failed={r['failed']} metrics={len(r['metrics'])}"
            except Exception as e:  # noqa: BLE001 - report and continue
                good, msg = False, repr(e)[:2000]
            ok &= good
            print(f"{'PASS' if good else 'FAIL'} {w} trace={trace} corrupt={corrupt} "
                  f"({time.time() - t0:.0f}s) {msg}", flush=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(HEAP))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    try:
        lines, _ = once(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # noqa: BLE001 - any failure is a non-zero exit without a result
        sys.stderr.write(f"perfbench: {e}\n")
        return 1
    for l in lines[:-1]:
        if l.startswith('{"perfbench"'):
            print(l)
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
