"""Benchmark command: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the project and
this harness into the build directory ($CARGO_TARGET_DIR, default
`.bench_build`); later runs reuse the classes. Everything a run reads or
writes, apart from the installed Java, Spark and Python packages, stays
inside the checkout.

The last line of standard output is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer
metrics with `--trace 1`. Diagnostics, weather stamps and the traced
run's self-time table go to standard error. The exit code is 0 only when
every output check passed.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import catalog_data  # noqa: E402
import spans as span_tools  # noqa: E402
import streams_data  # noqa: E402

WORKLOADS = ("streaming", "catalog")
# Java module openings Spark needs outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# the whole command must end within 180 s of its start
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke size: a few small triggers, one catalog pass at sf0.001")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb one expected value; the run must then fail its checks")
    return p.parse_args(argv)


def oracle_checks(results_dir, corrupt):
    """Compare each catalog result with its DuckDB twin, by the rules of the
    project's own correctness script: columns sorted by name, equal row
    counts, equal dtype kinds, floats compared by value and everything
    else by its string form, nulls equal to nulls."""
    import duckdb
    import pyarrow.parquet as pq

    with open(os.path.join(results_dir, "oracle.json")) as f:
        oracle = json.load(f)
    conns, checks = {}, []
    for name, spec in oracle.items():
        d = spec["dir"]
        if d not in conns:
            conns[d] = duckdb.connect()
            conns[d].execute("SET enable_progress_bar = false")
            for t in catalog_data.TABLES:
                conns[d].execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{os.path.join(d, t)}.parquet')")
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            checks.append((name, "result", "missing"))
            continue
        exp = conns[d].execute(spec["sql"]).fetchdf()
        got = pq.read_table(files[0]).to_pandas()
        if corrupt and not checks:
            exp = exp.iloc[1:]
        checks.append((name, "match", compare(exp, got)))
    return checks


def compare(exp, got):
    exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} vs {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} vs {len(got)}"
    exp, got = exp.reset_index(drop=True), got.reset_index(drop=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind != g.dtype.kind:
            return f"column {c}: dtype {e.dtype} vs {g.dtype}"
        both_null = e.isna() & g.isna()
        same = (e == g) if "f" in (e.dtype.kind, g.dtype.kind) else (e.astype(str) == g.astype(str))
        bad = ~(both_null | same)
        if bad.any():
            i = bad.idxmax()
            return f"column {c} row {i}: {e[i]!r} vs {g[i]!r}"
    return "match"


def write_plan(d, rows, warm, timed):
    with open(os.path.join(d, "plan.txt"), "w") as f:
        f.write(f"{rows} {warm} {warm + timed}\n")


def write_inputs(args, work, cores):
    """Writes the workload's seeded inputs into the work directory."""
    if args.workload == "streaming":
        # per stream: records per trigger, untimed warm-up triggers, and
        # timed triggers (about 1.4 s each; the two streams share --seconds).
        # The sizes put most of a trigger in the stages that decode, route
        # and hold state rather than in the engine's fixed per-trigger work;
        # README.md has the measured shares.
        timed = 3 if args.tiny else max(1, args.seconds // 3)
        rows, warm = (2000, 1) if args.tiny else (150000, 3)
        d = os.path.join(work, "kafka")
        expected = streams_data.kafka(os.path.join(d, "backlog"), args.seed, warm + timed, rows, cores)
        write_plan(d, rows, warm, timed)
        with open(os.path.join(d, "expected.txt"), "w") as f:
            f.writelines(" ".join(map(str, (g,) + e)) + "\n" for g, e in enumerate(expected))
        rows, warm = (1000, 1) if args.tiny else (60000, 2)
        d = os.path.join(work, "keyed")
        streams_data.documents(os.path.join(d, "backlog"), args.seed, warm + timed, rows, cores)
        write_plan(d, rows, warm, timed)
    else:
        tables = os.path.join(work, "tables")
        scales = [("sf0.001", 0.001)] if args.tiny else [("sf0.01", 0.01), ("sf0.001", 0.001)]
        rows = sum(sum(catalog_data.write(os.path.join(tables, sub), sf, args.seed).values())
                   for sub, sf in scales)
        if args.tiny:
            shutil.copytree(os.path.join(tables, "sf0.001"), os.path.join(tables, "sf0.01"))
            rows *= 2
        with open(os.path.join(tables, "rows.txt"), "w") as f:
            f.write(f"{rows}\n")


def metric_specs(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    end_to_end, per_layer = metric_specs(root)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build.build(root, build_dir)

    # smoke-size runs are kept apart, so the tracing overhead compares like with like
    tag = f"{args.workload}-s{args.seed}" + ("-tiny" if args.tiny else "")
    work = os.path.join(build_dir, "runs", f"{tag}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # set-up time runs from here: input generation, JVM and session start,
    # warm-up, up to the first timed operation
    t_launch = time.time()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.PerfBench", args.workload, str(args.seconds),
            str(args.trace), work, str(cores), str(int(args.corrupt_expected))])
    # the JVM starts its session while the inputs are written, and reads
    # them once the marker file exists
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        write_inputs(args, work, cores)
        open(os.path.join(work, "inputs.ready"), "w").close()
        proc.wait(timeout=JVM_TIMEOUT_S - (time.time() - t_launch))
    except subprocess.TimeoutExpired:
        log(f"workload did not finish within {JVM_TIMEOUT_S} s of launch")
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        log(f"workload exited with code {proc.returncode}")
        return 3
    with open(result_path) as f:
        res = json.load(f)

    checks = list(res["checks"])
    failed = int(res["failed"])
    log(f"workload finished {time.time() - t_launch:.1f} s after launch")
    if args.workload == "catalog":
        oracle = oracle_checks(os.path.join(work, "results"), args.corrupt_expected)
        bad = [c for c in oracle if c[2] != "match"]
        checks += [{"name": f"{n} vs DuckDB", "expected": "match", "actual": a,
                    "ok": a == "match"} for n, _, a in oracle]
        if bad:
            failed += 1  # the verification pass produced a wrong result
        log(f"DuckDB checks finished {time.time() - t_launch:.1f} s after launch")
    if args.trace:
        prefix, gap = span_tools.report(os.path.join(work, "spans.jsonl"),
                                        os.path.join(build_dir, "trace"), tag)
        checks.append({"name": "largest gap share of a span tree", "ok": gap <= span_tools.GAP_BOUND,
                       "expected": f"<= {span_tools.GAP_BOUND}", "actual": f"{gap:.4f}"})
    correct = failed == 0 and all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED {c['name']}: expected {c['expected']}, got {c['actual']}")
    log(f"{sum(c['ok'] for c in checks)}/{len(checks)} checks passed")

    values = dict(res["e2e"])
    values["setup_s"] = int(res["first_timed_us"]) / 1e6 - t_launch
    values["retained_heap_mb"] = res["retained_heap_mb"]
    res["info"]["peak_rss_mb"] = res["peak_rss_mb"]
    log("run info (weather, windows, tails): " + json.dumps(res["info"]))
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    saved = os.path.join(build_dir, "results", f"{tag}-t{args.trace}.json")
    with open(saved, "w") as f:
        json.dump({"e2e": values, "layers": res["layers"], "info": res["info"],
                   "checks": checks}, f, indent=1)

    if args.trace:
        untraced = os.path.join(build_dir, "results", f"{tag}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            overhead = {k: values[k] - base[k] for k in base if k in values}
            with open(prefix + ".overhead.json", "w") as f:
                json.dump(overhead, f, indent=1)
            log("tracing overhead (traced - untraced): " + json.dumps(overhead))
        specs, source = per_layer, res["layers"]
    else:
        specs, source = end_to_end, values
    metrics = {}
    for m in specs:
        v = source.get(m["name"], 0.0)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
