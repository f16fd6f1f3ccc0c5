#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, or the traced per-layer table.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl|curate --seed N \
        --seconds S --trace 0|1

The run builds graft and the benchmark's JVM driver from source with sbt
(once per checkout), generates the seed's inputs (cached per seed and
size under ``.bench_build/data``), runs the driver in one JVM on a
``local[4]`` session, checks every output it kept against the expected
one, and prints the metrics. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; ``--trace 0`` gives the end-to-end metrics of BENCHMARK.json
for the named workload, ``--trace 1`` the per-layer metrics of both
workloads. The line before it, ``{"report": ...}``, carries the
workload-specific figures (stage throughputs, pass and query latencies),
sample counts and hypervisor steal.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl", "curate")
DOCS = 500        # curate input: the sf0.01 documents table's size ...
DOCS_SEED = 0     # ... fixed across seeds: the seed orders the passes
TTL_MB = 16       # etl input size
RUN_SECONDS = 170  # a run must end within 180 s, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of the names and contents of every file the build reads: an
    edited tree rebuilds, and outputs recorded for one version of the code
    are never taken as the reference for another."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            with open(p, "rb") as f:
                data = f.read()
            h.update(f"{os.path.relpath(p, ROOT)}:{len(data)}\n".encode())
            h.update(data)
    return h.hexdigest()


def build():
    """Compile graft and the driver; returns the runtime classpath and the
    sources' digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"graft's sources are not under {ROOT}/src; run from a full checkout")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1], stamp


def run_jvm(cp, args, out, deadline):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={out}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(os.path.join(out, "tmp"))
    proc = subprocess.Popen(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run did not finish within {RUN_SECONDS} s")
    if code != 0:
        die(f"driver exited with code {code}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def oracle_cache(tables, q, sql):
    """Where the oracle result of query ``q`` on ``tables`` is kept: keyed
    by the SQL text too, so an edited oracle is run again."""
    return os.path.join(tables, "expected", f"{q}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")


def verify(name, w, out, tables, ttl_dir, digest):
    """Names of operations whose kept output is wrong, with reasons."""
    wrong = {}
    if name == "etl":
        # stage-2 counts must repeat across runs of the same inputs and the
        # same code (``digest``): a change to the code starts a new reference
        ref = os.path.join(ttl_dir, f"stage2-{digest[:16]}.json")
        seen = w["facts"]["stage2"]
        if seen:
            if os.path.exists(ref):
                with open(ref) as f:
                    expected = json.load(f)
                if expected != seen:
                    wrong["export"] = f"stage-2 counts {seen} differ from earlier runs' {expected}"
            else:
                with open(ref, "w") as f:
                    json.dump(seen, f, sort_keys=True)
    else:
        for q in w["checked"]:
            sql = w["oracle"][q]
            err = check.compare(tables, os.path.join(out, "results", q), sql,
                                oracle_cache(tables, q, sql))
            if err:
                wrong[q] = err
    return wrong


def summarize(name, w, wrong):
    """Per-workload figures: the samples minus wrong or failed ones."""
    ops = [(n, k, s) for n, k, s in w["ops"] if n not in wrong]
    lat = [s for _, _, s in ops]
    # a round is the sum of its operations' latencies, kept only if every
    # operation of it passed
    by_round = {}
    for _, k, s in ops:
        by_round.setdefault(k, []).append(s)
    rounds = [sum(v) for v in by_round.values() if len(v) == len(w["checked"])]
    failed = sum(1 for n, ok in w["runs"] if not ok or n in wrong)
    rep = {"workload": name, "attempted": len(w["runs"]), "failed": failed,
           "fail_frac": failed / max(1, len(w["runs"])), "timed_ops": len(lat),
           "complete_rounds": len(rounds), "steal_pct": w["steal_pct"]}
    if not rounds:
        return rep, None
    rep.update(round_s=statistics.median(rounds), op_p50_s=quantile(lat, 0.5),
               op_p75_s=quantile(lat, 0.75))
    if name == "etl":
        f = w["facts"]
        ks = sorted({k for _, k, _ in ops})
        ingest = statistics.median(sum(s for n, k, s in ops if k == r and n != "export") for r in ks)
        export = statistics.median(s for n, _, s in ops if n == "export")
        mb = f["ttl_bytes"] / 2**20
        rep.update(ttl_mb=mb, triples=f["triples"], ingest_s=ingest, export_s=export,
                   ingest_mb_s=mb / ingest, ingest_mb_s_per_core=mb / ingest / 4,
                   export_triples_s=f["triples"] / export)
    else:
        rep.update(curate_s=rep["round_s"], curate_p50_s=rep["op_p50_s"], curate_samples=len(lat))
    return rep, lat


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp, digest = build()
    # set-up runs from here to the end of the driver's warm-up round: input
    # generation or cache load, JVM and session start, input load, warm-up
    set_up_start = time.time()
    t0 = time.monotonic()
    deadline = t0 + RUN_SECONDS
    data = os.path.join(BUILD, "data")
    need_docs = a.trace or a.workload != "etl"
    need_ttl = a.trace or a.workload == "etl"
    tables = gen.ensure_documents(data, DOCS_SEED, DOCS)[0] if need_docs else ""
    ttl_dir, ttl_info = gen.ensure_ttl(data, a.seed, TTL_MB) if need_ttl else ("", {})
    gen_s = time.monotonic() - t0

    reports, attempted, failed, metrics = {}, 0, 0, {}
    # a traced run gives the per-layer table of both workloads, each from
    # its own JVM so neither inherits the other's JIT warmth
    for name in WORKLOADS if a.trace else (a.workload,):
        out = os.path.join(BUILD, "run", name)
        shutil.rmtree(out, ignore_errors=True)
        res = run_jvm(cp, [
            "--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tables", tables, "--ttl", ttl_dir,
            "--triples", json.dumps(ttl_info.get("lang_triples", {})), "--out", out], out, deadline)
        w = res["workload"]
        wrong = verify(name, w, out, tables, ttl_dir, digest)
        for q, why in wrong.items():
            print(f"perfbench: wrong output from {q}: {why}", file=sys.stderr)
        rep, lat = summarize(name, w, wrong)
        reports[name] = rep
        attempted += rep["attempted"]
        failed += rep["failed"]
        if a.trace:
            metrics.update(w["layers"])
        elif lat is not None:
            metrics.update(round_s=rep["round_s"], op_p50_s=rep["op_p50_s"], op_p75_s=rep["op_p75_s"])
            metrics["setup_s"] = res["set_up_end_s"] - set_up_start
            rep.update(setup_s=metrics["setup_s"], input_gen_s=gen_s, warm_up_s=res["warm_up_s"])

    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(metrics) != set(wanted) and failed == 0:
        die(f"metric set mismatch: missing {sorted(set(wanted) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(wanted))}")
    print(json.dumps({"report": reports}))
    print(json.dumps({
        "correct": failed == 0 and set(metrics) == set(wanted),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items() if k in metrics}}))


if __name__ == "__main__":
    main()
