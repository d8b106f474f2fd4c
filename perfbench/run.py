#!/usr/bin/env python3
"""Benchmark of the graft query engine: closed-loop workloads of registered
queries, timed end to end, with an optional traced run for per-layer metrics.

Runs from the root of a source checkout (see perfbench/README.md):

  python3 perfbench/run.py --workload etl_agg --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py sweep --runs 10 --out <dir> [--workloads a,b] [--trace 0|1]
  python3 perfbench/run.py compare <dir_a> <dir_b>
  python3 perfbench/run.py record

The program is compiled from the checkout's sources on first use, and its
input tables are generated by perfbench/gen_data.py; both are cached under
.bench_build/ keyed by a hash of what they are built from.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
HEAP = "3g"
# One core is left to the driver thread, the JIT and GC threads.
CPUS = min(3, len(os.sched_getaffinity(0)))
JVM_TIMEOUT_S = 160
# Spark 4 on JDK 17 needs these outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# Counts expected to repeat exactly between runs of the same code.
EXACT_COUNTS = ("scheduler.jobs", "plans.executions", "streaming.batches", "codegen.compiles")
# Nominal time of the harness's reference kernel (Harness.Reference), about
# what a 4-vCPU 2.1 GHz Xeon virtual machine reads in a typical spell. A
# run's timings are divided by its host speed factor, the median kernel time
# over its untraced timed passes over REFERENCE_MS0, so they read as time on
# a host of that nominal speed. On a shared host the speed of a core drifts
# by 30-50% over minutes with what its neighbours run.
REFERENCE_MS0 = 2.5
# compare holds two result sets not comparable when the means of their
# runs' mean 1-minute load average differ by more than LOAD_TOLERANCE
# runnable threads (a run keeps about CPUS + 1 busy itself; one more busy
# core beside it moved pass_s by about 10% and setup_s by about 20%), or the
# means of their runs' host speed factor by more than SPEED_TOLERANCE: the
# factor takes out most, not all, of a change in host speed.
LOAD_TOLERANCE = 0.75
SPEED_TOLERANCE = 0.25


class BenchError(Exception):
    pass


def load_json(path):
    return json.loads(Path(path).read_text())


def spec():
    return load_json(ROOT / "BENCHMARK.json")


def workloads():
    return load_json(BENCH / "workloads.json")


def sha(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BenchError(f"no Spark/Scala jars with a scala-compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build():
    """Compile the checkout's program sources plus the harness, once per source hash."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program or not (ROOT / "build.sbt").is_file():
        raise BenchError(f"no program sources (build.sbt, src/main/scala) under {ROOT}")
    sources = program + sorted((BENCH / "harness").rglob("*.scala"))
    jars = spark_jars()
    compiler = sorted(p.name for p in jars.glob("scala-compiler-*.jar"))[0]
    key = sha(sources, compiler)
    out = BUILD / f"classes-{key}"
    if (out / "BUILT").exists():
        return out, key
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    tmp = BUILD / f"classes-{key}.partial"
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in sources))
    t0 = time.time()
    proc = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp",
         "-nowarn", "-d", str(tmp), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp)
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    (tmp / "BUILT").write_text(f"{time.time() - t0:.1f}\n")
    tmp.rename(out)
    return out, key


def data():
    """Generate the fixture tables once per generator version."""
    gen = BENCH / "gen_data.py"
    out = BUILD / f"data-{sha([gen])}"
    if (out / "GENERATED").exists():
        return out
    for old in BUILD.glob("data-*"):
        shutil.rmtree(old)
    tmp = Path(str(out) + ".partial")
    subprocess.run([sys.executable, str(gen), str(tmp)], check=True)
    (tmp / "GENERATED").write_text("")
    tmp.rename(out)
    return out


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return None


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    proc = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return proc.stdout.strip() or None


def run_jvm(classes, sf_dir, ids, seed, seconds, trace, run_dir):
    """Run the harness in a fresh JVM; return its result and the graft_* dirs it left."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # Pre-touched heap. The JIT stops at C1: with C2 the pass time still fell
    # by 40% over the tenth timed pass (3.6 s to 2.1 s on etl_agg) as C2
    # worked through Spark's planner code, so a run's median depended on how
    # far the JIT got, which depends on host load; C1 settles within two
    # passes. No perf-data file in the system temp directory: the run writes
    # only inside the checkout.
    cmd = [java(), *ADD_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Harness",
           str(sf_dir), str(CPUS), str(seed), str(seconds), str(trace), str(run_dir), ",".join(ids)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM did not finish within {JVM_TIMEOUT_S}s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    leftover = sum(1 for p in tmp.iterdir() if p.name.startswith("graft_"))
    result_path = run_dir / "result.json"
    if proc.returncode != 0 or not result_path.exists():
        raise BenchError(f"harness JVM exited with {proc.returncode}:\n"
                         + log_path.read_text()[-4000:])
    return load_json(result_path), leftover


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def check_outputs(res, expected):
    """Compare every timed execution and the fingerprint pass with expected.json."""
    failures = []
    attempted = 0
    for p in res["passes"]:
        for q in p["queries"]:
            attempted += 1
            exp = expected.get(q["id"])
            if q.get("error") is not None:
                failures.append((q["id"], f"pass {p['index']}: {q['error']}"))
            elif exp is None:
                failures.append((q["id"], "no recorded output"))
            elif q["rows"] != exp["rows"]:
                failures.append((q["id"], f"pass {p['index']}: {q['rows']} rows, expected {exp['rows']}"))
    for f in res["fingerprints"]:
        attempted += 1
        exp = expected.get(f["id"])
        if "error" in f:
            failures.append((f["id"], f"fingerprint: {f['error']}"))
        elif exp is None:
            failures.append((f["id"], "no recorded output"))
        elif f["rows"] != exp["rows"] or (exp["fingerprint"] is not None
                                          and f["fingerprint"] != exp["fingerprint"]):
            failures.append((f["id"], f"fingerprint {f['rows']}/{f['fingerprint']}, "
                                      f"expected {exp['rows']}/{exp['fingerprint']}"))
    return attempted, failures


def host_speed(execs):
    """How slowly the host ran over these executions, from the reference
    kernel timed before each: 1.0 at nominal speed, 1.3 when 30% slower."""
    return statistics.median(q["reference_ms"] for q in execs) / REFERENCE_MS0


def run_speed_factor(res):
    """The run's host speed factor, from its untraced timed passes. One
    factor per run reads steadier than one per pass, whose few readings add
    noise of their own."""
    return host_speed(q for p in res["passes"] if not p["traced"] for q in p["queries"])


def end_to_end(res, attempted, failures, adjust=True):
    """End-to-end metrics; with adjust, every timing is divided by the run's
    host speed factor."""
    untraced = [p for p in res["passes"] if not p["traced"]]
    speed = run_speed_factor(res) if adjust else 1.0
    samples = [q["wall_ms"] / speed for p in untraced for q in p["queries"]]
    setup_ms = res["first_timed_ms"] - res["jvm_start_ms"] - res["setup_reference_ms"]
    return {
        "setup_s": setup_ms / speed / 1000.0,
        "pass_s": statistics.median(p["wall_ms"] for p in untraced) / speed / 1000.0,
        "pass_cpu_s": statistics.median(p["cpu_ms"] for p in untraced) / speed / 1000.0,
        "query_p50_ms": percentile(samples, 50),
        "query_p90_ms": percentile(samples, 90),
        "failed_ratio": len(failures) / attempted,
        "heap_peak_mb": res["live_heap_mb"],
    }, len(samples)


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    layers = {k: statistics.median(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
    layers.update({
        "sessions.build_ms": res["sessions_build_ms"],
        "codegen.compiles_setup": res["codegen_compiles_setup"],
        "memo.tmpdirs_setup": res["memo_tmpdirs_setup"],
        "memo.tmpdirs_pass": statistics.median(p["tmpdirs"] for p in traced),
        "trace.overhead_ratio": statistics.median(p["wall_ms"] for p in traced)
        / statistics.median(p["wall_ms"] for p in untraced),
    })
    return layers


def run_once(workload, seed, seconds, trace, out_dir=None, quiet=False):
    wl = workloads()[workload]
    exp_path = BENCH / "expected.json"
    expected = load_json(exp_path) if exp_path.exists() else {}
    meta = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "commit": git_commit(), "cpus": CPUS, "heap": HEAP, "nproc": os.cpu_count(),
            "started_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
            "loadavg_start": loadavg()}
    classes, meta["source_hash"] = build()
    sf_dir = data()
    run_dir = BUILD / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res, meta["memo_tmpdirs_run"] = run_jvm(classes, sf_dir, wl["ids"], seed, seconds, trace, run_dir)
        spans = (run_dir / "spans.jsonl").read_text() if trace else ""
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    meta["loadavg_end"] = loadavg()
    meta["host_speed"] = run_speed_factor(res)
    meta["java_heap_max_mb"] = res["heap_max_mb"]
    attempted, failures = check_outputs(res, expected)
    e2e, n_samples = end_to_end(res, attempted, failures)
    wall, _ = end_to_end(res, attempted, failures, adjust=False)
    s = spec()
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    units["failed_ratio"] = "ratio"
    shown = per_layer(res) if trace else e2e
    report_names = [m["name"] for m in s["per_layer" if trace else "end_to_end"]]
    summary = {
        "meta": meta, "end_to_end": e2e, "end_to_end_wall": wall, "query_samples": n_samples,
        "pass_ms": [p["wall_ms"] for p in res["passes"]],
        "pass_cpu_ms": [p["cpu_ms"] for p in res["passes"]],
        "pass_host_speed": [host_speed(p["queries"]) for p in res["passes"]],
        "attempted": attempted,
        "failures": [{"id": i, "reason": r} for i, r in failures],
        "per_layer": shown if trace else None,
        "per_query_ms": per_query(res), "warmup_ms": {q["id"]: q["wall_ms"] for q in res["warmup"]},
        "fingerprints": res["fingerprints"],
    }
    if out_dir is not None:
        out_dir.mkdir(parents=True, exist_ok=True)
        stem = f"{workload}.seed{seed}.trace{trace}.{meta['started_utc'].replace(':', '')}"
        (out_dir / f"{stem}.json").write_text(json.dumps(summary, indent=1) + "\n")
        if trace:
            (out_dir / f"{stem}.spans.jsonl").write_text(spans)
    if not quiet:
        print(f"perfbench {workload} seed={seed} trace={trace} cpus={CPUS} heap={HEAP} "
              f"passes={len(res['passes'])} loadavg={meta['loadavg_start']}->{meta['loadavg_end']} "
              f"host_speed={meta['host_speed']:.3f}")
        rows = list(e2e) if not trace else report_names
        for name in rows:
            extra = f" (n={n_samples})" if name.startswith("query_p") else ""
            if not trace and wall[name] != e2e[name]:
                extra += f"  wall {wall[name]:.4f}"
            print(f"  {name:32s} {shown[name]:14.4f} {units.get(name, '')}{extra}")
        if failures:
            print(f"  failed {len(failures)}/{attempted}:")
            for i, r in failures[:20]:
                print(f"    {i}: {r}")
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {n: {"value": shown[n], "unit": units[n]} for n in report_names}}
    return summary, line


def per_query(res):
    out = {}
    for p in res["passes"]:
        if not p["traced"]:
            for q in p["queries"]:
                out.setdefault(q["id"], []).append(q["wall_ms"])
    return {k: statistics.median(v) for k, v in out.items()}


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def sweep(args):
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec()["workloads"]]
    seconds = args.seconds or spec()["run_seconds"]
    out = Path(args.out)
    collected = {}
    for w in names:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            summary, line = run_once(w, seed, seconds, args.trace, out_dir=out, quiet=True)
            collected.setdefault(w, []).append(summary)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
            print(f"{w} seed={seed} correct={line['correct']} {vals}", flush=True)
    if args.trace == 0 and args.runs >= 2:
        bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
        for w, runs in collected.items():
            for name, bound in bounds.items():
                q1, med, q3 = quartiles([r["end_to_end"][name] for r in runs])
                spread = (q3 - q1) / med
                flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "TOO WIDE")
                print(f"SPREAD {w:18s} {name:14s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                      f"spread={spread:.3f} bound={bound} {flag}")


def load_results(d):
    out = {}
    for p in sorted(Path(d).glob("*.json")):
        r = load_json(p)
        out.setdefault(r["meta"]["workload"], []).append(r)
    return out


def run_load(r):
    """Mean of a run's 1-minute load average at start and end, or None."""
    m = r["meta"]
    if not m.get("loadavg_start") or not m.get("loadavg_end"):
        return None
    return (float(m["loadavg_start"][0]) + float(m["loadavg_end"][0])) / 2


def run_speed(r):
    """A run's host speed factor, or None."""
    return r["meta"].get("host_speed")


def machine_gap(a, b):
    """Why two sets of runs are not comparable (different machine load or
    speed), or None when they are."""
    gaps = []
    for what, reading, tolerance, relative in (("load average", run_load, LOAD_TOLERANCE, False),
                                               ("host speed", run_speed, SPEED_TOLERANCE, True)):
        va = [x for x in map(reading, a) if x is not None]
        vb = [x for x in map(reading, b) if x is not None]
        if not va or not vb:
            continue
        ma, mb = statistics.fmean(va), statistics.fmean(vb)
        print(f"  {what:14s} A {ma:.3f}  B {mb:.3f}")
        if abs(mb - ma) > (tolerance * ma if relative else tolerance):
            gaps.append(f"{what} {ma:.3f} vs {mb:.3f}")
    return "; ".join(gaps) or None


def compare(args):
    """Per workload and end-to-end metric: both sides' quartiles and a verdict."""
    a, b = load_results(args.a), load_results(args.b)
    for w in sorted(set(a) & set(b)):
        print(w)
        gap = machine_gap(a[w], b[w])
        for m in spec()["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [r["end_to_end"][name] for r in a[w] if r["meta"]["trace"] == 0]
            vb = [r["end_to_end"][name] for r in b[w] if r["meta"]["trace"] == 0]
            if len(va) < 2 or len(vb) < 2:
                print(f"{w:18s} {name:14s} too few untraced runs ({len(va)}, {len(vb)})")
                continue
            (a1, am, a3), (b1, bm, b3) = quartiles(va), quartiles(vb)
            change = (bm - am) / am
            worse = change if m["better"] == "lower" else -change
            if max((a3 - a1) / am, (b3 - b1) / bm) > bound:
                verdict = "unresolved (spread wider than bound)"
            elif gap is not None and m["unit"] in ("s", "ms"):
                verdict = f"unresolved (machine differs: {gap})"
            elif worse > bound:
                verdict = "worse"
            elif -worse > bound:
                verdict = "better"
            else:
                verdict = "agree"
            print(f"{w:18s} {name:14s} A {am:.4f} [{a1:.4f}, {a3:.4f}]  B {bm:.4f} [{b1:.4f}, {b3:.4f}]"
                  f"  change {change:+.3f} bound {bound}  {verdict}")
        for name in EXACT_COUNTS:
            seen = {side: sorted({r["per_layer"][name] for r in runs[w] if r["per_layer"]})
                    for side, runs in (("A", a), ("B", b))}
            if not seen["A"] or not seen["B"]:
                print(f"{w:18s} {name} not checked: no traced runs on one side")
            elif len(set(seen["A"]) | set(seen["B"])) > 1:
                print(f"{w:18s} {name} does not repeat: A {seen['A']} B {seen['B']}")
            else:
                print(f"{w:18s} {name} repeats exactly: {seen['A'][0]}")


def record(args):
    """Rewrite expected.json from two runs per workload (seeds 1 and 2) at the
    current commit. A query whose fingerprint differs between the two runs is
    recorded without one, and is then checked by row count only; its reason
    is kept from the previous file when there is one.
    """
    path = BENCH / "expected.json"
    previous = load_json(path) if path.exists() else {}
    expected = {}
    for w in (args.workloads.split(",") if args.workloads else workloads()):
        runs = [run_once(w, seed, 1, 0, quiet=True)[0] for seed in (1, 2)]
        for rid in workloads()[w]["ids"]:
            a, b = ({f["id"]: f for f in r["fingerprints"]}[rid] for r in runs)
            if "error" in a or "error" in b or a["rows"] != b["rows"]:
                raise BenchError(f"{rid}: no stable output to record: {a} / {b}")
            entry = {"rows": a["rows"], "fingerprint": a["fingerprint"]}
            if a["fingerprint"] != b["fingerprint"]:
                entry["fingerprint"] = None
                entry["reason"] = previous.get(rid, {}).get(
                    "reason", "fingerprint differs between two runs at this commit")
            expected[rid] = entry
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


def main(argv):
    if argv and argv[0] in ("sweep", "compare", "record"):
        p = argparse.ArgumentParser(prog="run.py " + argv[0])
        if argv[0] == "compare":
            p.add_argument("a")
            p.add_argument("b")
        else:
            p.add_argument("--workloads", default="")
        if argv[0] == "sweep":
            p.add_argument("--runs", type=int, default=10)
            p.add_argument("--first-seed", type=int, default=1)
            p.add_argument("--seconds", type=int, default=0)
            p.add_argument("--trace", type=int, choices=(0, 1), default=0)
            p.add_argument("--out", required=True)
        args = p.parse_args(argv[1:])
        {"sweep": sweep, "compare": compare, "record": record}[argv[0]](args)
        return 0
    p = argparse.ArgumentParser(prog="run.py")
    p.add_argument("--workload", required=True, choices=sorted(workloads()))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=str(BUILD / "results"))
    args = p.parse_args(argv)
    seconds = args.seconds if args.seconds is not None else spec()["run_seconds"]
    _, line = run_once(args.workload, args.seed, seconds, args.trace, out_dir=Path(args.out))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
