"""Per-layer metrics of a traced run, from the harness's raw records.

Spans nest workload -> call -> SQL execution -> job. Each execution is
attributed to the first `graft.` frame in its call site, with these
named cases:
  mart.<output>      MartSink writes, split by output path
  Skew.census        the skew census
  Quality.gate       the gate's summary collect inside Pipeline.run
  streaming.<query>  micro-batch jobs of a started stream query
Otherwise the frame's module (graft.operators.Similarity -> Similarity),
else the enclosing call's module, else `unattributed`. Jobs inherit
their execution's layer through `spark.sql.execution.id`.
"""
import statistics

MARTS = ["mart_user_daily", "mart_funnel_daily", "mart_product_daily", "mart_orders",
         "session_sequences", "hourly_traffic", "quality_check_log"]
# the operators modules that own a name in registry_mix.txt (Basket and
# Graph own none of the listed names)
MODULES = ["Relational", "EventMarts", "Quality", "Sessionize", "Similarity", "TextAnalysis",
           "Dedup", "UserAnalytics", "Multimodal", "AsOfJoin"]
STREAMS = ["funnel", "traffic", "quality", "unique"]

NAMES = (["GraftSession.start_s",
          "sources.rows_read", "sources.bytes_read", "sources.scan_tasks", "sources.scope_ratio",
          "Quality.gate_s", "Quality.gate_jobs", "Quality.gate_shuffle_bytes",
          "Skew.census_s", "Skew.census_jobs"]
         + [f"mart.{m}.{k}" for m in MARTS for k in ("s", "shuffle_bytes", "spill_bytes")]
         + ["MartSink.write_jobs", "MartSink.bytes_written", "MartSink.files_written",
            "MartSink.partitions_written", "MartSink.bytes_per_input_byte",
            "Pipeline.jobs", "Pipeline.stages", "Pipeline.tasks", "Pipeline.driver_gap_s",
            "Pipeline.shuffle_bytes", "Pipeline.spill_bytes",
            "query.plan_s", "query.exec_s", "query.jobs", "query.plan_jobs"]
         + [f"{m}.s" for m in MODULES]
         + [f"streaming.{q}.{k}" for q in STREAMS
            for k in ("trigger_ms", "addBatch_ms", "walCommit_ms", "state_rows", "input_rows")]
         + ["jvm.gc_s", "jvm.heap_peak_mb",
            "trace.attributed_share", "trace.primary_s", "trace.secondary_s"])

UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_bytes": "bytes", "bytes_read": "bytes", "bytes_written": "bytes",
         "_mb": "MB", "ratio": "ratio", "share": "ratio", "byte": "ratio"}

PRIMARY = {"daily_catchup": "daily", "registry_mix": "query", "stream_replay": "drain"}
SECONDARY = {"daily_catchup": "rerun", "registry_mix": "query", "stream_replay": "drain"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def _module(frame):
    cls = frame.split("(")[0].split(".")[:-1]
    if len(cls) > 1 and cls[1] == "streaming":
        return "streaming"
    return cls[-1].split("$")[0] if cls else "unattributed"


def _layer(frame, output, gate, call):
    if frame is None:
        return (call or {}).get("module") or "unattributed"
    if frame.startswith("graft.sources.MartSink"):
        return f"mart.{output or 'unknown'}"
    if frame.startswith("graft.operators.Skew"):
        return "Skew.census"
    if frame.startswith("graft.Pipeline") and gate:
        return "Quality.gate"
    return _module(frame)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Trace:
    def __init__(self, rec):
        t = rec["trace"]
        self.calls = sorted(t["calls"], key=lambda c: c["start"])
        self.execs = {x["id"]: x for x in t["execs"]}
        self.jobs = t["jobs"]
        self.sink = t["sink_stats"]
        for x in self.execs.values():
            x["call"] = self._call_at(x["start"])
            x["layer"] = _layer(x["frame"], x["output"], x["gate"], x["call"])
        for j in self.jobs:
            j["call"] = self._call_at(j["start"])
            x = self.execs.get(j["exec"])
            if j["stream"]:
                j["layer"] = f"streaming.{j['stream']}"
            elif x is not None:
                j["layer"] = x["layer"]
            else:
                j["layer"] = _layer(j["frame"], None, False, j["call"])

    def _call_at(self, ms):
        for c in self.calls:
            if c["start"] <= ms <= c["end"]:
                return c
        return None

    def calls_of(self, kind):
        return [c for c in self.calls if c["kind"] == kind]

    def in_call(self, items, c):
        return [i for i in items if i["call"] is c]


def _pipeline(tr, calls, date_rows):
    per = []
    for c in calls:
        jobs = tr.in_call(tr.jobs, c)
        execs = tr.in_call(list(tr.execs.values()), c)
        m = {}

        def layer_s(name):
            xs = sum(x["end"] - x["start"] for x in execs if x["layer"] == name)
            js = sum(j["end"] - j["start"] for j in jobs if j["layer"] == name and j["exec"] not in tr.execs)
            return (xs + js) / 1e3

        def layer_jobs(name):
            return [j for j in jobs if j["layer"] == name]

        m["sources.rows_read"] = sum(x["scan_rows"] for x in execs)
        m["sources.bytes_read"] = sum(x["scan_bytes"] for x in execs)
        m["sources.scan_tasks"] = sum(x["scan_tasks"] for x in execs)
        scope = sum(date_rows.get(d, 0) for d in _neighbors(c["label"].split("#")[0]))
        m["sources.scope_ratio"] = scope / m["sources.rows_read"] if m["sources.rows_read"] else 0.0
        m["Quality.gate_s"] = layer_s("Quality.gate")
        m["Quality.gate_jobs"] = len(layer_jobs("Quality.gate"))
        m["Quality.gate_shuffle_bytes"] = sum(j["shuffle_bytes"] for j in layer_jobs("Quality.gate"))
        m["Skew.census_s"] = layer_s("Skew.census")
        m["Skew.census_jobs"] = len(layer_jobs("Skew.census"))
        for mart in MARTS:
            js = layer_jobs(f"mart.{mart}")
            m[f"mart.{mart}.s"] = layer_s(f"mart.{mart}")
            m[f"mart.{mart}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in js)
            m[f"mart.{mart}.spill_bytes"] = sum(j["spill_bytes"] for j in js)
        m["MartSink.write_jobs"] = sum(1 for j in jobs if j["layer"].startswith("mart."))
        sink = tr.sink.get(c["label"], {})
        m["MartSink.bytes_written"] = sink.get("bytes", 0)
        m["MartSink.files_written"] = sink.get("files", 0)
        m["MartSink.partitions_written"] = sink.get("partitions", 0)
        m["MartSink.bytes_per_input_byte"] = (m["MartSink.bytes_written"] / m["sources.bytes_read"]
                                              if m["sources.bytes_read"] else 0.0)
        m["Pipeline.jobs"] = len(jobs)
        m["Pipeline.stages"] = sum(j["stages"] for j in jobs)
        m["Pipeline.tasks"] = sum(j["tasks"] for j in jobs)
        covered = _union_ms([(max(j["start"], c["start"]), min(j["end"], c["end"])) for j in jobs])
        m["Pipeline.driver_gap_s"] = (c["end"] - c["start"] - covered) / 1e3
        m["Pipeline.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
        m["Pipeline.spill_bytes"] = sum(j["spill_bytes"] for j in jobs)
        per.append(m)
    return {k: _med([m[k] for m in per]) for k in per[0]} if per else {}


def _neighbors(day):
    import datetime
    d = datetime.date.fromisoformat(day)
    return [(d + datetime.timedelta(days=k)).isoformat() for k in (-1, 0, 1)]


def _registry(tr, passes):
    """Per pass over the timed names: sums over its queries, averaged
    over the passes. `<Module>.s` is the SQL execution time of the
    queries whose listed module it is."""
    calls = tr.calls_of("query")
    if not passes:
        return {}
    m = {"query.plan_s": 0.0, "query.exec_s": 0.0, "query.jobs": 0, "query.plan_jobs": 0}
    mod = {f"{x}.s": 0.0 for x in MODULES}
    for c in calls:
        jobs = tr.in_call(tr.jobs, c)
        execs = tr.in_call(list(tr.execs.values()), c)
        mark = c["mark"] or c["end"]
        plan = (mark - c["start"] + c["plan_ms"]) / 1e3
        m["query.plan_s"] += plan
        m["query.exec_s"] += (c["end"] - c["start"]) / 1e3 - plan
        m["query.jobs"] += len(jobs)
        m["query.plan_jobs"] += sum(1 for j in jobs if j["start"] < mark)
        if f"{c['module']}.s" in mod:
            mod[f"{c['module']}.s"] += sum(x["end"] - x["start"] for x in execs) / 1e3
    out = {k: v / passes for k, v in m.items()}
    out.update({k: v / passes for k, v in mod.items()})
    return out


def _streaming(progress):
    out = {}
    for q in STREAMS:
        ps = [p for p in progress if p["query"] == q]
        for k in ("trigger_ms", "addBatch_ms", "walCommit_ms"):
            out[f"streaming.{q}.{k}"] = _med([p[k] for p in ps])
        out[f"streaming.{q}.state_rows"] = max([p["state_rows"] for p in ps], default=0)
        drains = {}
        for p in ps:
            drains[p["drain"]] = drains.get(p["drain"], 0) + p["input_rows"]
        out[f"streaming.{q}.input_rows"] = _med(list(drains.values()))
    return out


def metrics(rec, workload, date_rows, e2e):
    """Every per-layer metric of a traced run; `e2e` holds the run's
    primary_s and secondary_s, reported as trace.* for the overhead."""
    tr = Trace(rec)
    m = {n: 0.0 for n in NAMES}
    m["GraftSession.start_s"] = _med(rec["session_s"])
    if workload == "daily_catchup":
        m.update(_pipeline(tr, tr.calls_of(PRIMARY[workload]), date_rows or {}))
    if workload == "registry_mix":
        m.update(_registry(tr, len(rec["secondary"])))
    if workload == "stream_replay":
        m.update(_streaming(rec.get("stream_progress", [])))
    m["jvm.gc_s"] = rec["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = rec["jvm_heap_peak_mb"]
    timed = [c for c in tr.calls if c["kind"] in (PRIMARY[workload], SECONDARY[workload])]
    jobs = [j for j in tr.jobs if j["call"] in timed]
    total = sum(j["end"] - j["start"] for j in jobs)
    placed = sum(j["end"] - j["start"] for j in jobs if j["layer"] != "unattributed")
    m["trace.attributed_share"] = placed / total if total else 1.0
    m["trace.primary_s"] = e2e["primary_s"]
    m["trace.secondary_s"] = e2e["secondary_s"]
    return {k: {"value": float(v), "unit": unit(k)} for k, v in m.items()}
