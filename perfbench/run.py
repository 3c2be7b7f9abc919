#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload clip_pipeline --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source (once per checkout, see
build.py), runs one fresh JVM for the workload, checks the outputs, and
prints a report followed by one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes stays
under .bench_build/ in the checkout and is removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("clip_pipeline", "dedup_corpus")
# a run has 180 s; a traced dedup_corpus run adds ~25 s of DuckDB oracles
JVM_TIMEOUT_S = 150


def run_jvm(b, args, work, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(b.java(work) + args, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def end_to_end(r, wall):
    s = r["setup"]
    setup = s["boot_s"] + s["session_s"] + s["models_s"] + \
        stats.median(s["inputs_s"]) + s["warmup_s"]
    return {
        "setup_s": setup,
        "wall_s": wall,
        "rows_per_s": r["input_rows"] / wall if wall else 0.0,
    }


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        b = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    # the catalog layer runs in dedup_corpus traced runs, over these tables
    catalog = a.trace and a.workload == "dedup_corpus"
    if catalog:
        tables.write(a.seed, os.path.join(work, "tables"))
    log_path = os.path.join(build.BUILD_DIR, f"last-{a.workload}.log")
    try:
        t0 = time.time()
        rc = run_jvm(b, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                          work, out_json], work, log_path)
        if rc != 0 or not os.path.exists(out_json):
            print(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}; "
                  f"log: {log_path}", file=sys.stderr)
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            return 1
        with open(out_json) as f:
            r = json.load(f)
        if a.trace:
            with open(os.path.join(build.BUILD_DIR, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(r["spans"], f)
        jvm_s = time.time() - t0
        # -Xshare:on: a JVM that ran has mapped the archive
        r["jvm"] = (f"class-data-sharing archive {os.path.relpath(b.jsa, ROOT)} mapped, "
                    f"heap {build.HEAP}")
        if catalog:
            r["catalog_desc"] = (f"{len(r['catalog_ops'])} catalog queries over 10 tables "
                                 f"at sf0.01 row counts ({sum(tables.ROWS.values())} rows), "
                                 f"digest {tables.digest(os.path.join(work, 'tables'))}")
        checks = list(r["checks"])
        if r["oracles"]:
            for q, (ok, detail) in oracle.compare(
                    os.path.join(work, "tables"), os.path.join(work, "oracle_out"),
                    r["oracles"]).items():
                checks.append({"name": f"oracle:{q}", "ok": ok, "value": float(ok),
                               "ops": [q], "detail": detail})
        elapsed = (jvm_s, time.time() - t0 - jvm_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report(a, spec, r, checks, elapsed)


def report(a, spec, r, checks, elapsed):
    calls = r["calls"]
    for op in stats.unstable_digests(calls):
        checks.append({"name": f"digest_stable:{op}", "ok": False, "value": 0.0,
                       "ops": [op], "detail": "outputs differ between units"})
    for op, ref in r["references"].items():
        got = {c["digest"] for c in calls if c["op"] == op and c["ok"] and c["unit"] >= 0}
        if got and got != {ref}:
            checks.append({"name": f"digest_reference:{op}", "ok": False, "value": 0.0,
                           "ops": [op], "detail": f"{sorted(got)} vs checked {ref}"})
    attempted, failed = stats.failures(calls, checks)
    units = r["units"]
    plain = [u["seconds"] for u in units if not u["traced"] and u["seconds"] >= 0]
    traced = [u["seconds"] for u in units if u["traced"] and u["seconds"] >= 0]
    correct = attempted > 0 and failed == 0 and all(c["ok"] for c in checks) and bool(plain)
    wall = stats.median(plain) if plain else 0.0  # no unit completed: correct is false
    e2e = end_to_end(r, wall)

    catalog_ops = set(r["catalog_ops"])
    samples = [c["seconds"] for c in calls
               if c["op"] in catalog_ops and c["unit"] >= 0 and c["ok"]]
    qtail = stats.tail(samples)
    quality = {c["name"]: c["value"] for c in checks}
    w = a.workload
    lines = [
        f"perfbench {w} seed={a.seed} trace={a.trace} cores={r['cores']} "
        f"jvm={elapsed[0]:.1f}s checks={r['checks_s']:.1f}s oracle={elapsed[1]:.1f}s",
        f"  jvm: {r['jvm']}",
        f"  input: {r['input_desc']}",
        f"  input digest: {r['input_digest']}",
        f"  units: {len(plain)} untraced {[round(x, 3) for x in plain]}, "
        f"{len(traced)} traced {[round(x, 3) for x in traced]}",
        f"  setup_s          {e2e['setup_s']:.3f} s  ({json.dumps(r['setup'])})",
        f"  wall_s           {wall:.3f} s  (median of {len(plain)} units)",
        f"  rows_per_s       {e2e['rows_per_s']:.1f} 1/s  "
        f"({r['input_rows']} input rows)",
        f"  keep_f1          {quality['keep_f1']:.5f}" if "keep_f1" in quality
        else "  keep_f1          n/a",
        f"  planted_recall   {quality['planted_recall']:.5f}"
        if "planted_recall" in quality else "  planted_recall   n/a",
        f"  cache_peak_mb    {r['cache_peak_mb']:.2f} MB",
        f"  failed_frac      {failed / max(1, attempted):.4f}  ({failed} of {attempted})",
    ]
    if catalog_ops:
        lines += [
            f"  catalog: {r['catalog_desc']}",
            f"  query_p50_s      {stats.median(samples):.4f} s  ({len(samples)} traced calls)"
            if samples else "  query_p50_s      n/a",
            f"  query_p90_s      {qtail[1]:.4f} s  (p{qtail[0]:g}: highest percentile with "
            f">=10 of {len(samples)} samples beyond it)"
            if qtail else f"  query_p90_s      n/a ({len(samples)} samples: none beyond any "
                          "percentile reaches 10)",
        ]
    per_op = {}
    for c in calls:
        if c["unit"] >= 0 and c["ok"]:
            per_op.setdefault(c["op"], []).append(c["seconds"])
    for op, xs in per_op.items():
        lines.append(f"  call {op:<30} {stats.median(xs):.4f} s  (median of {len(xs)})")
    for c in checks:
        if not c["ok"] or not c["name"].startswith(("oracle:", "digest")):
            lines.append(f"  check {c['name']:<22} {'ok' if c['ok'] else 'FAILED'} "
                         f"{c['value']:.5g} {c.get('detail') or ''}")
    n_oracle = sum(1 for c in checks if c["name"].startswith("oracle:"))
    if n_oracle:
        lines.append(f"  oracle checks: {sum(1 for c in checks if c['name'].startswith('oracle:') and c['ok'])}"
                     f" of {n_oracle} queries equal their DuckDB oracle")

    if a.trace:
        layers = dict(r["layers"])
        if plain and traced:
            layers["trace.overhead_frac"] = stats.median(traced) / stats.median(plain) - 1.0
        layers["query.p50_s"] = stats.median(samples) if samples else 0.0
        layers["query.tail_s"] = qtail[1] if qtail else 0.0
        layers["query.tail_pct"] = qtail[0] if qtail else 0.0
        layers["query.samples"] = float(len(samples))
        layers["quality.failed_frac"] = failed / max(1, attempted)
        layers["spark.cache_peak_mb"] = r["cache_peak_mb"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k in sorted(layers):
            lines.append(f"  layer {k:<40} {layers[k]:.6g}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print("\n".join(lines))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
