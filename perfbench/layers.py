"""Per-layer metrics of a traced run, from the harness's spans and samples.

Every traced run reports every metric in METRICS; a layer the workload
never calls reports 0 (it did no work). Counters are per traced cycle
unless the name says otherwise. A span's self time is its duration minus
the part its child spans cover; children running at the same time (the
per-table sync fan-out) share each instant equally, so the self times
inside a cycle add up to the cycle's wall time.
"""
import statistics
from collections import defaultdict

FAMILIES = ["fn", "cur", "rel", "dedup", "conn"]
SPANNED = ["cdc.source", "cdc.sync", "cdc.publish", "cdc.verify", "cdc.reconcile",
           "table.maintain", "stream.upsert", "connector.scan", "connector.lookup"]
ACTIONS = ["compact", "materialize_deletes", "consolidate_masks", "expire_snapshots"]

# (name, unit, better)
METRICS = (
    [("cdc.source.rows_scanned", "rows", "lower"),
     ("cdc.source.rows_returned", "rows", "higher"),
     ("cdc.source.useful_ratio", "ratio", "higher"),
     ("cdc.backfill_events_per_s", "events/s", "higher")]
    + [(f"cdc.sync.{m}", u, "lower") for m, u in
       [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
        ("sched_delay_s", "s"), ("bytes_written", "bytes"), ("cpu_us_per_event", "us")]]
    + [("cdc.publish.wall_s", "s", "lower"), ("cdc.publish.jobs", "count", "lower"),
       ("cdc.publish.commits", "count", "lower")]
    + [(f"cdc.{s}.{m}", u, "lower") for s in ["verify", "reconcile"]
       for m, u in [("wall_s", "s"), ("jobs", "count"), ("rows_scanned", "rows")]]
    + [("table.maintain.wall_s", "s", "lower"), ("table.maintain.jobs", "count", "lower"),
       ("table.maintain.bytes_rewritten", "bytes", "lower")]
    + [(f"table.maintain.actions.{a}", "count", "lower") for a in ACTIONS]
    + [(f"stream.upsert.{m}", u, "lower") for m, u in
       [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
        ("shuffle_bytes", "bytes"), ("files_added", "count"), ("bytes_written", "bytes")]]
    + [("mor.write_amp", "ratio", "lower")]
    + [(f"table.masks.{m}", "count", "lower") for m in
       ["live_mask_files", "live_mask_rows", "live_data_files"]]
    + [(f"connector.{r}.{m}", u, b) for r in ["scan", "lookup"] for m, u, b in
       [("wall_s", "s", "lower"), ("files_read", "count", "lower"),
        ("rows_scanned", "rows", "lower"), ("rows_returned", "rows", "higher"),
        ("useful_ratio", "ratio", "higher")]]
    + [(f"query.{f}.{m}", u, "lower") for f in FAMILIES for m, u in
       [("build_s", "s"), ("action_s", "s"), ("jobs_build", "count"),
        ("jobs_action", "count"), ("tasks_per_job", "count"), ("cpu_s", "s"),
        ("sched_delay_s", "s"), ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")]]
    + [(f"{layer}.self_s", "s", "lower") for layer in SPANNED]
    + [("jvm.gc_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
       ("trace.overhead_ratio", "ratio", "lower"),
       ("trace.layer_self_share", "ratio", "higher"),
       ("tmp.leaked_dirs", "count", "lower"),
       ("host.steal_share", "ratio", "lower"),
       ("baseline.local1_cycle_s", "s", "lower"),
       ("baseline.local1_backfill_events_per_s", "events/s", "higher")]
)


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def self_times(spans):
    """Span id -> self seconds."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)

    def walk(s, lo, hi, share):
        ks = [k for k in kids[s["id"]] if k["end_ns"] > lo and k["start_ns"] < hi]
        cuts = sorted({lo, hi} | {t for k in ks for t in (k["start_ns"], k["end_ns"])
                                  if lo < t < hi})
        for a, b in zip(cuts, cuts[1:]):
            active = [k for k in ks if k["start_ns"] <= a and k["end_ns"] >= b]
            if not active:
                out[s["id"]] += share * (b - a) / 1e9
            for k in active:
                walk(k, a, b, share / len(active))

    ids = {s["id"] for s in spans}
    for r in spans:
        if r["parent"] not in ids:
            walk(r, r["start_ns"], r["end_ns"], 1.0)
    return out


def compute(res, spans, extra):
    """Per-layer metric values of one traced run."""
    v = {name: 0.0 for name, _, _ in METRICS}
    values, samples = res["values"], res["samples"]
    cycles = [s for s in spans if s["name"] == "cycle"]
    n = max(1, len(cycles))
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def total(name, key):
        return sum(s[key] for s in by[name])

    def note(name, key):
        return sum(s["notes"].get(key, 0.0) for s in by[name])

    scanned, returned = note("cdc.source", "rows_scanned"), note("cdc.source", "rows_returned")
    v["cdc.source.rows_scanned"] = scanned / n
    v["cdc.source.rows_returned"] = returned / n
    v["cdc.source.useful_ratio"] = returned / scanned if scanned else 0.0
    v["cdc.backfill_events_per_s"] = values.get("cdc.backfill_events_per_s", 0.0)
    sync = by["cdc.sync"]
    v["cdc.sync.wall_s"] = sum(map(dur, sync)) / n
    v["cdc.sync.jobs"] = total("cdc.sync", "jobs") / n
    v["cdc.sync.tasks"] = total("cdc.sync", "tasks") / n
    v["cdc.sync.cpu_s"] = total("cdc.sync", "cpu_ns") / 1e9 / n
    v["cdc.sync.sched_delay_s"] = total("cdc.sync", "sched_ms") / 1e3 / n
    v["cdc.sync.bytes_written"] = note("cdc.sync", "bytes_written") / n
    sync_ids = {s["id"] for s in sync}
    events = sum(s["notes"].get("rows_returned", 0.0) for s in by["cdc.source"]
                 if s["parent"] in sync_ids)
    if events:
        v["cdc.sync.cpu_us_per_event"] = total("cdc.sync", "cpu_ns") / 1e3 / events
    v["cdc.publish.wall_s"] = sum(map(dur, by["cdc.publish"])) / n
    v["cdc.publish.jobs"] = total("cdc.publish", "jobs") / n
    v["cdc.publish.commits"] = note("cdc.publish", "commits") / n
    for st in ["verify", "reconcile"]:
        name = f"cdc.{st}"
        v[f"{name}.wall_s"] = sum(map(dur, by[name])) / n
        v[f"{name}.jobs"] = total(name, "jobs") / n
        v[f"{name}.rows_scanned"] = total(name, "input_records") / n
    v["table.maintain.wall_s"] = sum(map(dur, by["table.maintain"])) / n
    v["table.maintain.jobs"] = total("table.maintain", "jobs") / n
    v["table.maintain.bytes_rewritten"] = note("table.maintain", "bytes_written") / n
    for a in ACTIONS:
        v[f"table.maintain.actions.{a}"] = note("table.maintain", f"actions.{a}") / n
    up = "stream.upsert"
    if by[up]:
        v[f"{up}.wall_s"] = sum(map(dur, by[up])) / n
        v[f"{up}.jobs"] = total(up, "jobs") / n
        v[f"{up}.tasks"] = total(up, "tasks") / n
        v[f"{up}.cpu_s"] = total(up, "cpu_ns") / 1e9 / n
        v[f"{up}.shuffle_bytes"] = (total(up, "shuffle_read") + total(up, "shuffle_write")) / n
        v[f"{up}.bytes_written"] = note(up, "bytes_written") / n
        v[f"{up}.files_added"] = statistics.mean(samples.get(f"{up}.files_added", [0]))
        v["mor.write_amp"] = values.get("mor.write_amp", 0.0)
        for m in ["live_mask_files", "live_mask_rows", "live_data_files"]:
            v[f"table.masks.{m}"] = statistics.mean(samples.get(f"table.masks.{m}", [0]))
    for r in ["scan", "lookup"]:
        name = f"connector.{r}"
        reads = by[name]
        if reads:
            k = len(reads)
            v[f"{name}.wall_s"] = sum(map(dur, reads)) / k
            sc, rt = note(name, "rows_scanned"), note(name, "rows_returned")
            v[f"{name}.files_read"] = note(name, "files_read") / k
            v[f"{name}.rows_scanned"] = sc / k
            v[f"{name}.rows_returned"] = rt / k
            v[f"{name}.useful_ratio"] = rt / sc if sc else 0.0
    for f in FAMILIES:
        b, a = by[f"query.{f}.build"], by[f"query.{f}.action"]
        if not (b or a):
            continue
        both = b + a
        jobs = sum(s["jobs"] for s in both)
        v[f"query.{f}.build_s"] = sum(map(dur, b)) / n
        v[f"query.{f}.action_s"] = sum(map(dur, a)) / n
        v[f"query.{f}.jobs_build"] = sum(s["jobs"] for s in b) / n
        v[f"query.{f}.jobs_action"] = sum(s["jobs"] for s in a) / n
        v[f"query.{f}.tasks_per_job"] = sum(s["tasks"] for s in both) / jobs if jobs else 0.0
        v[f"query.{f}.cpu_s"] = sum(s["cpu_ns"] for s in both) / 1e9 / n
        v[f"query.{f}.sched_delay_s"] = sum(s["sched_ms"] for s in both) / 1e3 / n
        v[f"query.{f}.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in both) / n
        v[f"query.{f}.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in both) / n
        v[f"query.{f}.spill_bytes"] = sum(s["spill"] for s in both) / n
    selfs = self_times(spans)
    for layer in SPANNED:
        v[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in by[layer]) / n
    wall = sum(map(dur, cycles))
    if wall:
        v["trace.layer_self_share"] = 1.0 - sum(selfs[c["id"]] for c in cycles) / wall
    v["host.steal_share"] = statistics.mean(samples.get("host.steal_share", [0.0]))
    v["jvm.gc_s"] = values.get("jvm.gc_s", 0.0)
    v["jvm.heap_peak_mb"] = values.get("jvm.heap_peak_mb", 0.0)
    untraced, traced = samples.get("cycle_s", []), samples.get("cycle_traced_s", [])
    if untraced and traced:
        v["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    v.update(extra)
    return v
