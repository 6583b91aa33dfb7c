#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM on local[N], N = nproc.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source on
first use (perfbench/build.py), stages the seeded inputs, runs the
workload's timed calls for S seconds of measured time, checks the
outputs, and prints as its last line one JSON record:
  --trace 0: the end-to-end metrics of BENCHMARK.json
  --trace 1: the per-layer metrics (a separate, traced run)
The line before it carries the workload's own named metrics, the
inputs (seed, rows, bytes) and the host context. Exits non-zero when
an operation failed or an output check did not hold.
See perfbench/README.md.
"""
import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["daily_catchup", "registry_mix", "stream_replay"]
STREAM_USERS, STREAM_SESSIONS, STREAM_DAYS, STREAM_FILES = 1000, 4, 2, 8
REGISTRY_ORDERS = 3000
JVM_BUDGET_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def stage(workload, seed, data, plant):
    """Write the workload's inputs; return what the record states about them."""
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    meta = {}
    if workload == "daily_catchup":
        feed = gen.session_feed(seed)
        rows, nbytes = gen.write_feed(feed, os.path.join(data, "feed"))
        if plant:
            gen.write_feed(gen.inject_duplicates(feed, seed), os.path.join(data, "feed_bad"))
        days = (feed["ts"] // gen.DAY_US).astype(int)
        dates = [(datetime.date(2024, 1, 1) + datetime.timedelta(days=d)).isoformat() for d in range(gen.DAYS)]
        meta = {"dates": dates, "date_rows": {dates[d]: int((days == d).sum()) for d in range(gen.DAYS)}}
        with open(os.path.join(data, "feed_meta.json"), "w") as fh:
            json.dump(meta, fh)
    elif workload == "registry_mix":
        rows, nbytes = gen.star_schema(seed, data, orders=REGISTRY_ORDERS)
    else:
        feed = gen.session_feed(seed, users=STREAM_USERS, sessions_per_user=STREAM_SESSIONS, days=STREAM_DAYS)
        rows, nbytes = gen.write_backlog(feed, os.path.join(data, "backlog"), STREAM_FILES)
        # append-mode windows are emitted once the watermark (max event
        # time - 2 h) passes their end; later windows stay open
        ts_ms = feed["ts"] // 1000
        hour = 3_600_000
        final = (ts_ms // hour + 1) * hour <= ts_ms.max() - 2 * hour
        et = feed["event_type"][final]
        meta = {"rows": rows, "funnel_totals": {
            "views": int((et == 0).sum()), "clicks": int((et == 1).sum()), "purchases": int((et == 2).sum())}}
        with open(os.path.join(data, "backlog_meta.json"), "w") as fh:
            json.dump(meta, fh)
    return {"seed": seed, "rows": int(rows), "bytes": int(nbytes)}, meta


def run_jvm(args, work, data, cpus, deadline):
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Harness",
              "--workload", args.workload, "--data", data, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus), "--seed", str(args.seed),
              "--out", out, "--launched-ms", str(int(time.time() * 1000)),
              "--registry", os.path.join("perfbench", "registry_mix.txt")])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {args.workload} did not finish in time")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def oracle_checks(workload, rec, data, work):
    import check
    if workload == "daily_catchup" and rec.get("mart_dir"):
        con = check.connect({"events": os.path.join(data, "feed", "events.parquet", "*.parquet")})
        return check.marts(con, rec["mart_dir"], rec["oracle"], os.path.join(work, "oracle"),
                           rec.get("built_dates"))
    if workload == "registry_mix":
        tables = {t: os.path.join(data, f"{t}.parquet") for t in
                  ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                   "events", "documents", "embeddings")}
        return check.queries(check.connect(tables), rec["oracle"])
    return []


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs as this VM sees them."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def quartile3(xs):
    return statistics.quantiles(xs, n=4)[2] if len(xs) > 1 else (xs[0] if xs else 0.0)


def end_to_end(workload, rec):
    """primary_s and secondary_s: medians of the timed calls, except
    registry_mix's primary_s, the geometric mean over the timed names
    of each name's median query time. A median over ten different
    queries jumps between them from run to run; the geometric mean
    weighs a cheap query's change as much as a costly one's."""
    p = rec["primary"]
    first = statistics.geometric_mean(p) if workload == "registry_mix" else statistics.median(p)
    return {"primary_s": first, "secondary_s": statistics.median(rec["secondary"])}


def named_metrics(workload, rec, setup_s, failed_ratio, staged):
    """The workload's own metrics, by the names the docs use."""
    p, s = rec["primary"], rec["secondary"]
    med = statistics.median
    m = {"setup_s": (setup_s, "s"), "failed_ratio": (failed_ratio, "ratio"),
         "peak_rss_mb": (rec["peak_rss_mb"], "MB")}
    if workload == "daily_catchup":
        m["daily_run_s"] = (med(p), "s")
        m["rerun_s"] = (med(s), "s")
    elif workload == "registry_mix":
        m["query_p50_s"] = (med(p), "s")
        m["query_p75_s"] = (quartile3(p), "s")
        m["query_geomean_s"] = (statistics.geometric_mean(p), "s")
        m["registry_s"] = (med(s), "s")
    else:
        m["stream_events_per_s"] = (staged / med(s), "events/s")
        m["batch_p50_ms"] = (med(p) * 1e3, "ms")
        m["batch_p75_ms"] = (quartile3(p) * 1e3, "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-dup-ids", action="store_true",
                    help="daily_catchup: every second catch-up call reads a feed with duplicate "
                         "event_ids, which the gate must fail (a planted failure)")
    args = ap.parse_args()
    build.build()
    deadline = time.time() + JVM_BUDGET_S
    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(build.OUT, f"work-{args.workload}-{os.getpid()}"))
    data = os.path.join(work, "data")
    try:
        gen_s = []
        for _ in range(3):  # staged three times; setup_s takes the median
            t0 = time.perf_counter()
            inputs, meta = stage(args.workload, args.seed, data, args.plant_dup_ids)
            gen_s.append(time.perf_counter() - t0)
        steal0, total0 = cpu_jiffies()
        rec = run_jvm(args, work, data, cpus, deadline)
        steal1, total1 = cpu_jiffies()
        oracle = oracle_checks(args.workload, rec, data, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setup_s = (statistics.median(gen_s) + rec["launch_to_main_s"] + statistics.median(rec["session_s"])
               + rec["warmup_s"])
    failures = rec["calls_failed"] + rec["checks_failed"] + [msg for ok, msg in oracle if not ok]
    attempted = rec["calls_attempted"] + rec["checks_run"] + len(oracle)
    staged = meta.get("rows", inputs["rows"])
    correct = (not rec["checks_failed"] and all(ok for ok, _ in oracle)
               and bool(rec["primary"]) and bool(rec["secondary"]))
    detail = {
        "workload": args.workload, "trace": args.trace, "inputs": inputs,
        "host": dict({k: rec[k] for k in ("cpus", "jdk", "spark", "canary_start", "canary_end")},
                     steal_share=(steal1 - steal0) / max(1, total1 - total0)),
        "samples": {"primary": len(rec["primary"]), "secondary": len(rec["secondary"]),
                    "contended_calls": rec["contended"]},
        "failures": failures[:20]}
    if "per_query" in rec:
        detail["per_query_s"] = rec["per_query"]
    if correct:
        detail["metrics"] = named_metrics(args.workload, rec, setup_s, len(failures) / attempted, staged)
    print(json.dumps(detail))
    if not correct:
        sys.stderr.write("perfbench: output check failed or nothing was timed\n")
        sys.exit(1)
    if args.trace:
        metrics = layers.metrics(rec, args.workload, meta.get("date_rows"), end_to_end(args.workload, rec))
    else:
        metrics = {k: {"value": v, "unit": "s"}
                   for k, v in dict(setup_s=setup_s, **end_to_end(args.workload, rec)).items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
