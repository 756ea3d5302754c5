"""Turns one run's raw record (written by perfbench.Main) into the
benchmark's metrics, output checks and spans."""
import re
import statistics
from datetime import datetime, timezone
from pathlib import Path

import stats

FAMILIES = ("bmp", "ann", "dedup", "graph", "other")
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

# End-to-end metrics, the same names on every workload (BENCHMARK.json).
E2E_UNITS = {
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "latency_ms": "ms",
    "tail_latency_ms": "ms",
    "read_ms": "ms",
}

# Per-layer metrics; a layer that does not run on a workload reads 0.
LAYER_UNITS = {
    "stream.trigger_ms": "ms", "stream.addBatch_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.latestOffset_ms": "ms",
    "stream.batches": "count", "stream.msgs_per_batch": "msg", "stream.backlog_end_msgs": "msg",
    "gen.late_ms": "ms",
    "app.processBatch_ms": "ms", "app.driver_other_ms": "ms",
    "write.executions": "count", "write.empty_ratio": "ratio",
    "write.state_ms": "ms", "write.state_bytes": "B", "write.cdc_ms": "ms",
    "write.cdc_bytes": "B", "write.append_ms": "ms",
    "sql.plan_ms": "ms", "spark.jobs": "count", "spark.shuffle_bytes": "B",
    "parse.ns_per_msg": "ns/msg",
    "state.ip_rib_rows": "count", "state.bytes": "B", "state.bytes_per_msg": "B/msg",
    "ingest.msgs_per_s": "msg/s",
    "views.register_ms": "ms", "views.query_plan_ms": "ms", "views.query_exec_ms": "ms",
    "reader.late_ms": "ms",
    **{f"gates.{k}_ms.{f}": "ms" for k in ("plan", "codegen", "exec") for f in FAMILIES},
    "gates.jobs": "count", "gates.shuffle_bytes": "B",
    "topk.numGroups": "count", "topk.numPassThroughRows": "count",
    "box.loadavg_pre": "load", "box.steal_delta": "ticks",
}

TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def ts_us(s):
    d = datetime.strptime(s, TS_FORMAT).replace(tzinfo=timezone.utc)
    return (d - EPOCH).days * 86400_000_000 + (d - EPOCH).seconds * 1_000_000 + d.microsecond


def lww_rib(dirs):
    """Independent last-write-wins fold of every unicast_prefix message in
    `dirs` (bootstrap first, then ticks in file-name order): (peer, hash)
    -> (withdrawn, ts_us)."""
    rib = {}
    for d in dirs:
        for f in sorted(Path(d).glob("topic=openbmp.parsed.unicast_prefix/*.tsv")):
            for line in f.read_text().splitlines():
                c = line.split("\t")
                key = (c[1], c[0])
                t = ts_us(c[7])
                if key not in rib or t >= rib[key][1]:
                    rib[key] = (c[8].strip().lower() in ("1", "true", "t"), t)
    return rib


def rib_mismatches(expected, rib_file):
    got = {}
    for line in Path(rib_file).read_text().splitlines():
        if line:
            peer, h, wd, t = line.split("\t")
            got[(peer, h)] = (wd == "true", int(t))
    keys = set(expected) | set(got)
    return sum(1 for k in keys if expected.get(k) != got.get(k))


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def write_kind(path):
    if "/peer_events/" in path or "/stat_reports/" in path:
        return "append"
    if re.search(r"_log/batch=-?\d+$", path):
        return "cdc"
    if re.search(r"/v\d+$", path):
        return "state"
    return "other"


class Spans:
    def __init__(self):
        self.items = []

    def add(self, name, start, end, parent=None, tag=""):
        sid = len(self.items) + 1
        self.items.append({"id": sid, "parent": parent, "name": name,
                           "start_ms": start, "end_ms": end, "tag": str(tag)})
        return sid

    def get(self, sid):
        return self.items[sid - 1]


def execs_of(raw):
    keys = ("start_ms", "end_ms", "plan_ms", "func", "path", "rows", "bytes", "ok",
            "topk_groups", "topk_pass", "tag")
    return [dict(zip(keys, e)) for e in raw.get("execs", [])]


# ---- live-churn ----------------------------------------------------------

def live_churn(raw, trace):
    ticks = raw["ticks"]                      # [index, due, n, late, commit]
    fresh = [t[4] - t[1] for t in ticks if t[4] is not None for _ in range(t[2])]
    invisible = sum(t[2] for t in ticks if t[4] is None)
    reads = raw["reads"]                      # [kind, due, start, end, ok, error]
    read_lat = [r[3] - r[1] for r in reads if r[4]]
    read_errors = sum(1 for r in reads if not r[4])
    expected = lww_rib([raw["bootstrap_dir"], raw["stream_dir"]])
    mism = rib_mismatches(expected, raw["rib_file"])
    dups = sum(raw["cdc_dup_groups"].values())
    failures = {"msgs_not_visible": invisible, "read_errors": read_errors,
                "ip_rib_mismatched_keys": mism, "cdc_duplicate_groups": dups}
    attempted = raw["written_msgs"] + len(reads)
    f_tail = stats.tail(fresh) if fresh else None
    r_tail = stats.tail(read_lat) if read_lat else None
    total_msgs = raw["bootstrap_msgs"] + raw["written_msgs"]
    named = {
        "freshness_p50_ms": (stats.percentile(fresh, 50) if fresh else None, "ms"),
        f"freshness_p{f_tail[0]:g}_ms" if f_tail else "freshness_tail_ms":
            (f_tail[1] if f_tail else None, "ms"),
        "view_query_p50_ms": (stats.percentile(read_lat, 50) if read_lat else None, "ms"),
        f"view_query_p{r_tail[0]:g}_ms" if r_tail else "view_query_tail_ms":
            (r_tail[1] if r_tail else None, "ms"),
        "ingest_msgs_per_s": (raw["committed_msgs"] / max(1e-9, (raw["drained_ms"] - raw["t0_ms"]) / 1000), "msg/s"),
        "stored_bytes_per_msg": (raw["root_bytes"] / max(1, total_msgs), "B/msg"),
    }
    by_kind = {}
    for r in reads:
        if r[4]:
            by_kind.setdefault(r[0], []).append(r[3] - r[1])
    triggers = [b["durations_ms"].get("triggerExecution", 0) for b in raw["batches"]]
    e2e = {
        "latency_ms": named["freshness_p50_ms"][0],
        # the longest micro-batch: with batches this slow the window holds
        # only a few, and every freshness percentile is the last batch's
        # commit minus a due time, so the freshness tail adds nothing
        "tail_latency_ms": max(triggers) if triggers else None,
        # the four queries differ in cost, so the median of all reads jumps
        # between kinds; the mean of the per-kind medians does not
        "read_ms": mean(statistics.median(v) for v in by_kind.values()) if by_kind else None,
    }
    notes = [f"samples: {len(fresh)} messages, {len(read_lat)} reads, {len(triggers)} batches "
             f"(trigger ms {triggers}); traffic mix {raw['mix']}"]
    layers, spans = ({}, None)
    if trace:
        layers, spans, more = live_churn_layers(raw, total_msgs)
        notes += more
    return e2e, named, failures, attempted, layers, spans, notes


def live_churn_layers(raw, total_msgs):
    sp = Spans()
    run = sp.add("run", raw["t0_ms"], raw["drained_ms"], tag="live-churn")
    execs = execs_of(raw)
    batches = raw["batches"]
    per_batch = []
    for b in batches:
        bid = sp.add("batch", b["start_ms"], b["commit_ms"], run, b["id"])
        t = b["start_ms"]
        phase_span = {}
        for ph in PHASES:
            d = b["durations_ms"].get(ph, 0)
            phase_span[ph] = sp.add(f"stream.{ph}", t, t + d, bid, b["id"])
            t += d
        add = sp.get(phase_span["addBatch"])
        inside = [e for e in execs if add["start_ms"] <= e["start_ms"] <= add["end_ms"] and not e["tag"]]
        writes = [e for e in inside if e["path"]]
        pb_end = max([e["end_ms"] for e in writes], default=add["start_ms"])
        pb = sp.add("app.processBatch", add["start_ms"], pb_end, phase_span["addBatch"], b["id"])
        sp.add("views.register", pb_end, add["end_ms"], phase_span["addBatch"], b["id"])
        for e in inside:
            name = f"write.{write_kind(e['path'])}" if e["path"] else f"sql.{e['func']}"
            sp.add(name, e["start_ms"], e["end_ms"], pb if e["end_ms"] <= pb_end else phase_span["addBatch"],
                   b["id"])
        jobs = [j for j in raw["jobs"] if b["start_ms"] <= j <= b["commit_ms"]]
        shuffle = sum(s[1] for s in raw["stages"] if b["start_ms"] <= s[0] <= b["commit_ms"])
        kinds = {k: [e for e in writes if write_kind(e["path"]) == k] for k in ("state", "cdc", "append")}
        per_batch.append({
            "batch_ms": b["commit_ms"] - b["start_ms"],
            "empty_ms": sum(e["end_ms"] - e["start_ms"] for e in writes if e["rows"] == 0),
            "pb_ms": pb_end - add["start_ms"],
            "self_ms": stats.self_time(sp.get(pb), sp.items),
            "writes": len(writes),
            "empty": sum(1 for e in writes if e["rows"] == 0),
            "plan_ms": sum(e["plan_ms"] for e in inside),
            "jobs": len(jobs), "shuffle": shuffle,
            **{f"{k}_ms": sum(e["end_ms"] - e["start_ms"] for e in v) for k, v in kinds.items()},
            **{f"{k}_bytes": sum(max(0, e["bytes"]) for e in v) for k, v in kinds.items()},
        })
    reads = raw["reads"]
    for j, r in enumerate(reads):
        sp.add(f"read.{r[0]}", r[2], r[3], run, j)
    tagged = [e for e in execs if e["tag"].startswith("read:")]
    n_writes = sum(p["writes"] for p in per_batch)
    sa = raw.get("standalone", {})
    layers = {
        **{f"stream.{ph}_ms": mean(b["durations_ms"].get(ph, 0) for b in batches)
           for ph in ("addBatch", "walCommit", "commitOffsets", "latestOffset")},
        "stream.trigger_ms": mean(b["durations_ms"].get("triggerExecution", 0) for b in batches),
        "stream.batches": len(batches),
        "stream.msgs_per_batch": mean(b["rows"] for b in batches),
        "stream.backlog_end_msgs": raw["backlog_end_msgs"],
        "gen.late_ms": max((t[3] for t in raw["ticks"]), default=0),
        "app.processBatch_ms": mean(p["pb_ms"] for p in per_batch),
        "app.driver_other_ms": mean(p["self_ms"] for p in per_batch),
        "write.executions": mean(p["writes"] for p in per_batch),
        "write.empty_ratio": sum(p["empty"] for p in per_batch) / n_writes if n_writes else 0.0,
        **{f"write.{k}": mean(p[k] for p in per_batch)
           for k in ("state_ms", "state_bytes", "cdc_ms", "cdc_bytes", "append_ms")},
        "sql.plan_ms": mean(p["plan_ms"] for p in per_batch),
        "spark.jobs": mean(p["jobs"] for p in per_batch),
        "spark.shuffle_bytes": mean(p["shuffle"] for p in per_batch),
        "parse.ns_per_msg": sa.get("parse_ns_per_msg", 0.0),
        "state.ip_rib_rows": raw["ip_rib_rows"],
        "state.bytes": raw["root_bytes"],
        "state.bytes_per_msg": raw["root_bytes"] / max(1, total_msgs),
        "ingest.msgs_per_s": raw["committed_msgs"] / max(1e-9, (raw["drained_ms"] - raw["t0_ms"]) / 1000),
        "views.register_ms": statistics.median(sa["register_ms"]) if sa.get("register_ms") else 0.0,
        "views.query_plan_ms": mean(e["plan_ms"] for e in tagged),
        "views.query_exec_ms": mean(e["end_ms"] - e["start_ms"] for e in tagged),
        "reader.late_ms": max((r[2] - r[1] for r in reads), default=0),
    }
    batch_ms = sum(p["batch_ms"] for p in per_batch)
    notes = [
        f"breakdown: {len(per_batch)} batches, {batch_ms / 1000:.1f} s; processBatch "
        f"{sum(p['pb_ms'] for p in per_batch) / max(1, batch_ms):.0%}, of which driver self time "
        f"{sum(p['self_ms'] for p in per_batch) / max(1, batch_ms):.0%}; writes: state "
        f"{sum(p['state_ms'] for p in per_batch) / max(1, batch_ms):.0%}, cdc "
        f"{sum(p['cdc_ms'] for p in per_batch) / max(1, batch_ms):.0%}, append "
        f"{sum(p['append_ms'] for p in per_batch) / max(1, batch_ms):.0%}; "
        f"empty-table writes {sum(p['empty'] for p in per_batch)}/{n_writes} taking "
        f"{sum(p['empty_ms'] for p in per_batch) / max(1, batch_ms):.0%} of batch time"]
    return layers, sp, notes


# ---- gates ---------------------------------------------------------------

def gates(raw, trace):
    keys = ("name", "fam", "pass", "start_ms", "end_ms", "codegen_ms", "ok", "rows", "hash", "error")
    runs = [dict(zip(keys, r)) for r in raw["gate_runs"]]
    cold = [r for r in runs if r["pass"] == 0]
    warm = {}
    for r in runs:
        if r["pass"] > 0 and (r["name"] not in warm or
                              r["end_ms"] - r["start_ms"] < warm[r["name"]]["end_ms"] - warm[r["name"]]["start_ms"]):
            warm[r["name"]] = r
    dur = lambda r: r["end_ms"] - r["start_ms"]
    cold_ms = sum(dur(r) for r in cold)
    warm_ms = sum(dur(r) for r in warm.values())
    n = max(1, len(cold))
    failures = {"gate_runs_failed": sum(1 for r in runs if not r["ok"])}
    named = {
        "gates_cold_s": (cold_ms / 1000, "s"),
        "gates_warm_s": (warm_ms / 1000, "s"),
        "warm_passes": (max(r["pass"] for r in runs), "count"),
    }
    e2e = {
        "latency_ms": cold_ms / n,
        # the slowest gate's warm time: cold times of single gates shift
        # with the seeded order (shared codegen lands on whichever runs
        # first), their sum and the warm times do not
        "tail_latency_ms": max((dur(r) for r in warm.values()), default=None),
        "read_ms": warm_ms / n,
    }
    notes = [f"{len(cold)} gates, {len(runs)} gate runs"] + \
        [f"FAILED {r['name']} pass {r['pass']}: rows={r['rows']} digest={r['hash']} {r['error']}"
         for r in runs if not r["ok"]]
    layers, spans = ({}, None)
    if trace:
        layers, spans, more = gates_layers(raw, runs, cold, warm)
        notes += more
    return e2e, named, failures, len(runs), layers, spans, notes


def gates_layers(raw, runs, cold, warm):
    sp = Spans()
    execs = execs_of(raw)
    run = sp.add("run", raw["t0_ms"], raw["window_end_ms"], tag="gates")
    last_pass = max(r["pass"] for r in runs)
    plan = {f: 0.0 for f in FAMILIES}
    codegen = {f: 0.0 for f in FAMILIES}
    execute = {f: 0.0 for f in FAMILIES}
    passes = {}
    for r in runs:
        if r["pass"] not in passes:
            ps = [x for x in runs if x["pass"] == r["pass"]]
            passes[r["pass"]] = sp.add("pass", min(x["start_ms"] for x in ps), max(x["end_ms"] for x in ps),
                                      run, r["pass"])
        gid = sp.add("gate", r["start_ms"], r["end_ms"], passes[r["pass"]], f"{r['name']}#{r['pass']}")
        r["plan_ms"] = 0.0
        for e in execs:
            if r["start_ms"] <= e["start_ms"] <= r["end_ms"]:
                sp.add(f"sql.{e['func']}", e["start_ms"], e["end_ms"], gid, f"{r['name']}#{r['pass']}")
                r["plan_ms"] += e["plan_ms"]
    for r in cold:
        plan[r["fam"]] += r["plan_ms"]
        codegen[r["fam"]] += r["codegen_ms"]
    for r in warm.values():
        execute[r["fam"]] += max(0.0, (r["end_ms"] - r["start_ms"]) - r["plan_ms"] - r["codegen_ms"])
    # jobs, stages and executions inside the timed gate runs of a pass
    # (the output checks between them are not counted)
    def within(p, t):
        return any(r["start_ms"] <= t <= r["end_ms"] for r in runs if r["pass"] == p)
    in_last = [e for e in execs if within(last_pass, e["start_ms"])]
    layers = {
        **{f"gates.plan_ms.{f}": plan[f] for f in FAMILIES},
        **{f"gates.codegen_ms.{f}": codegen[f] for f in FAMILIES},
        **{f"gates.exec_ms.{f}": execute[f] for f in FAMILIES},
        "gates.jobs": sum(1 for j in raw["jobs"] if within(last_pass, j)),
        "gates.shuffle_bytes": sum(s[1] for s in raw["stages"] if within(last_pass, s[0])),
        "topk.numGroups": sum(max(0, e["topk_groups"]) for e in in_last),
        "topk.numPassThroughRows": sum(max(0, e["topk_pass"]) for e in in_last),
        "sql.plan_ms": sum(r["plan_ms"] for r in cold),
        "spark.jobs": sum(1 for j in raw["jobs"] if within(0, j)),
        "spark.shuffle_bytes": sum(s[1] for s in raw["stages"] if within(0, s[0])),
    }
    cold_ms = sum(r["end_ms"] - r["start_ms"] for r in cold)
    notes = [f"breakdown: cold pass {cold_ms / 1000:.1f} s = plan {sum(plan.values()) / cold_ms:.0%} + "
             f"codegen {sum(codegen.values()) / cold_ms:.0%} + rest; warm minimum "
             f"{sum(r['end_ms'] - r['start_ms'] for r in warm.values()) / 1000:.1f} s, of which execution "
             f"{sum(execute.values()) / 1000:.1f} s"]
    return layers, sp, notes


WORKLOADS = {"live-churn": live_churn, "gates": gates}


def compute(raw, trace, box):
    """-> (e2e metrics, the named report values, failures, attempted,
    per-layer metrics, spans, notes)."""
    e2e, named, failures, attempted, layers, spans, notes = WORKLOADS[raw["workload"]](raw, trace)
    e2e["setup_s"] = raw["setup_s"]
    e2e["peak_mem_mb"] = (raw["live_heap_peak_bytes"] + raw["native_peak_bytes"]) / 2**20
    # VmHWM, for reference only: G1 touches most of the fixed heap
    named["peak_rss_mb"] = (raw["peak_rss_kb"] / 1024, "MB")
    notes.append(f"memory: live heap peak {raw['live_heap_peak_bytes'] / 2**20:.1f} MB "
                 f"+ native peak {raw['native_peak_bytes'] / 2**20:.1f} MB")
    if trace:
        layers = {k: float(layers.get(k, 0.0)) for k in LAYER_UNITS}
        layers["box.loadavg_pre"] = box["loadavg_pre"]
        layers["box.steal_delta"] = box["steal_delta"]
    return e2e, named, failures, attempted, layers, spans, notes
