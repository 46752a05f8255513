"""Statistics and metric definitions for the graft benchmark.

The Scala harness (graftbench.Main) emits one raw run record: every
operation's latency, units of work and output check, the set-up times,
host labels and, in traced runs, one aggregate per span. This module
turns that record into the benchmark's metrics and its correctness
verdict.
"""
import json
import math
import os
import statistics

# End-to-end metrics, reported on every workload (see README.md).
# items_per_s counts the workload's unit of work per second of busy
# time: tiles written (pyramid_build), calls of the round's mix answered
# (spatial_queries), input rows landed and refreshed on disk
# (tile_refresh).
END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}

QUERY_KINDS = {  # call kind -> span name
    "pip64": "join.pip64", "pip4096": "join.pip4096", "knn": "join.knn",
    "bbox_small": "query.bbox", "bbox_large": "query.bbox",
    "tile_scan": "query.tile_scan", "enum": "query.enum", "dedup": "media.dedup"}

# Per-layer metrics of the traced run: name -> unit. A workload that does
# not exercise a layer reports 0 for it.
PER_LAYER = {
    "encode.s": "s", "encode.shuffle_write_mb": "MB",
    "render.rank_s": "s", "render.pyramid_s": "s",
    "render.emit_exec_s": "s", "render.tile_exec_s": "s",
    "render.tile_skew": "ratio", "render.cmds": "count",
    "render.tiles_per_cmd": "ratio", "render.shuffle_write_mb": "MB",
    "render.spill_mb": "MB", "render.gc_s": "s",
    "render.png_s_per_tile": "s", "render.png_bytes_per_tile": "B",
    "sinks.files": "count", "sinks.mb": "MB",
    "join.pip64_p50_s": "s", "join.pip4096_p50_s": "s", "join.knn_p50_s": "s",
    "join.knn_fallback_frac": "ratio",
    "query.bbox_p50_s": "s", "query.tile_scan_p50_s": "s", "query.enum_p50_s": "s",
    "query.rows_read_per_hit": "ratio",
    "streaming.tiles_per_batch": "count", "streaming.rows_read_per_tile": "ratio",
    "streaming.jobs_per_batch": "count", "streaming.exec_s_per_batch": "s",
    "streaming.driver_s_per_batch": "s",
    "media.decode_s": "s", "media.band_s": "s", "media.decode_mb_per_s": "MB/s",
    "ops.components_s": "s", "media.shuffle_write_mb": "MB",
    "media.spill_mb": "MB", "media.gc_s": "s",
    "jvm.peak_rss_mb": "MB", "trace_overhead_frac": "ratio",
}
for _span in sorted(set(QUERY_KINDS.values())):
    PER_LAYER[_span + ".jobs"] = "count"
    PER_LAYER[_span + ".driver_s"] = "s"


# ---------------------------------------------------------------- helpers

def percentile(samples, q, min_beyond=10):
    """The q-quantile (nearest rank) of samples, or None unless at least
    `min_beyond` samples lie beyond it: a percentile is reported only when
    it rests on ten samples past it (so p50 needs 20, p90 needs 100)."""
    n = len(samples)
    rank = max(1, math.ceil(round(q * n, 9)))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(samples)[rank - 1]


def median(samples):
    """Median, or None for no samples (no ten-beyond rule: per-layer
    medians of rarer call kinds may rest on fewer samples; the run
    report states each count)."""
    return statistics.median(samples) if samples else None


def skew(task_ms):
    """Max / median task time of a stage; None without positive median."""
    if not task_ms:
        return None
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else None


def ratio(num, den):
    """num / den, or None when den is not positive (e.g. rows read per
    result row over scans that found nothing)."""
    return num / den if den > 0 else None


def count_failures(ops, golden_checks):
    """Failed operations: those that failed in the harness, whose check
    differs from the one recorded for their key at the seed, or whose
    check differs from an earlier operation with the same key."""
    seen = {}
    failed = 0
    for o in ops:
        key, check = o["key"], o["check"]
        bad = not o["ok"]
        if not bad and key in golden_checks and golden_checks[key] != check:
            bad = True
        if not bad and seen.setdefault(key, check) != check:
            bad = True
        failed += bad
    return failed


# ---------------------------------------------------------------- metrics

def load_golden(path):
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def record_golden(path, record):
    """Merge a run's checks into the golden file (checks already recorded
    for a key are kept)."""
    golden = load_golden(path)
    entry = golden.setdefault(record["workload"], {}).setdefault(
        str(record["seed"]), {"checks": {}, "final": ""})
    for o in record["ops"]:
        entry["checks"].setdefault(o["key"], o["check"])
    entry["final"] = entry["final"] or record["final_check"]
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


def golden_for(golden, record):
    return golden.get(record["workload"], {}).get(str(record["seed"]), {})


def setup_s(record):
    return record["session_s"] + record["prepare_s"]


def rate(items, ops):
    """items per second of the operations' summed latency."""
    wall = sum(o["lat_s"] for o in ops)
    return items / wall if wall > 0 else 0.0


def units(ops):
    return sum(o["units"] for o in ops)


def mix_rate(mix, ops):
    """Calls per second of a call mix: len(mix) over the summed mean
    latency of each call in it, so a run that stops inside a round
    weighs its kinds like a whole round."""
    lat = {}
    for o in ops:
        lat.setdefault(o["kind"], []).append(o["lat_s"])
    cost = sum(statistics.mean(lat[k]) for k in mix)
    return len(mix) / cost if cost > 0 else 0.0


def throughput(record):
    """items_per_s in the workload's unit (see END_TO_END)."""
    ops = record["ops"]
    w = record["workload"]
    if w == "spatial_queries":
        return mix_rate(record["extras"]["round"], ops)
    if w == "tile_refresh":
        return rate(len(ops) * record["extras"]["batch_rows"], ops)
    return rate(units(ops), ops)


def med_of(rows, key):
    return median([r[key] for r in rows]) or 0.0


def trace_overhead(ops):
    """Per call kind, median latency of traced ops over untraced ones,
    weighted by sample count, minus 1."""
    num = den = 0.0
    for kind in sorted({o["kind"] for o in ops}):
        t = [o["lat_s"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["lat_s"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            num += len(t) * statistics.median(t) / statistics.median(u)
            den += len(t)
    return num / den - 1.0 if den else 0.0


def per_layer(record):
    w = record["workload"]
    ops = record["ops"]
    m = {k: 0.0 for k in PER_LAYER}
    m["trace_overhead_frac"] = trace_overhead(ops)
    m["jvm.peak_rss_mb"] = record["peak_rss_mb"]
    traced_ok = {o["i"] for o in ops if o["traced"] and o["ok"]}
    op_units = {o["i"]: o["units"] for o in ops}

    def rows(name):
        return [s for s in record["spans"] if s["name"] == name and s["op"] in traced_ok]

    if w == "pyramid_build":
        enc, rank, pyr = rows("encode"), rows("render.rank"), rows("render.pyramid")
        m["encode.s"] = med_of(enc, "wall_s")
        m["encode.shuffle_write_mb"] = med_of(enc, "shuffle_write_mb")
        m["render.rank_s"] = med_of(rank, "wall_s")
        m["render.pyramid_s"] = med_of(pyr, "wall_s")
        m["render.emit_exec_s"] = med_of(pyr, "map_exec_s")
        m["render.tile_exec_s"] = med_of(pyr, "result_exec_s")
        m["render.tile_skew"] = median([x for x in (skew(s["result_task_ms"]) for s in pyr)
                                        if x is not None]) or 0.0
        m["render.cmds"] = med_of(pyr, "last_map_records")
        m["render.tiles_per_cmd"] = median([x for x in (
            ratio(op_units[s["op"]], s["last_map_records"]) for s in pyr) if x is not None]) or 0.0
        both = rank + pyr
        by_op = {}
        for s in both:
            agg = by_op.setdefault(s["op"], {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0})
            for k in agg:
                agg[k] += s[k]
        m["render.shuffle_write_mb"] = med_of(list(by_op.values()), "shuffle_write_mb")
        m["render.spill_mb"] = med_of(list(by_op.values()), "spill_mb")
        m["render.gc_s"] = med_of(list(by_op.values()), "gc_s")
        png = record["extras"].get("png", {})
        if png.get("tiles"):
            m["render.png_s_per_tile"] = png["encode_s"] / png["tiles"]
            m["render.png_bytes_per_tile"] = png["bytes"] / png["tiles"]
        m["sinks.files"] = median(record["extras"]["sink_files"]) or 0.0
        m["sinks.mb"] = median(record["extras"]["sink_mb"]) or 0.0

    elif w == "spatial_queries":
        lat = {}
        for o in ops:
            lat.setdefault(QUERY_KINDS[o["kind"]], []).append(o["lat_s"])
        for span in ("join.pip64", "join.pip4096", "join.knn",
                     "query.bbox", "query.tile_scan", "query.enum"):
            m[span + "_p50_s"] = median(lat.get(span, [])) or 0.0
        for span in set(QUERY_KINDS.values()):
            r = rows(span)
            m[span + ".jobs"] = med_of(r, "jobs")
            m[span + ".driver_s"] = median([s["wall_s"] - s["job_s"] for s in r]) or 0.0
        m["join.knn_fallback_frac"] = median(record["extras"].get("knn_fallback_frac", [])) or 0.0
        scans = rows("query.bbox") + rows("query.tile_scan")
        m["query.rows_read_per_hit"] = ratio(sum(s["input_records"] for s in scans),
                                             sum(op_units[s["op"]] for s in scans)) or 0.0
        ph = record["extras"].get("dedup_phases", [])
        dedup_lat = [o["lat_s"] for o in ops if o["kind"] == "dedup"]
        m["media.decode_s"] = median([p["decode_s"] for p in ph]) or 0.0
        m["media.band_s"] = median([p["band_s"] for p in ph]) or 0.0
        m["media.decode_mb_per_s"] = ratio(record["extras"]["dedup_input_mb"],
                                           m["media.decode_s"]) or 0.0
        m["ops.components_s"] = median([t - p["decode_s"] - p["band_s"]
                                        for t, p in zip(dedup_lat, ph)]) or 0.0
        r = rows("media.dedup")
        m["media.shuffle_write_mb"] = med_of(r, "shuffle_write_mb")
        m["media.spill_mb"] = med_of(r, "spill_mb")
        m["media.gc_s"] = med_of(r, "gc_s")

    elif w == "tile_refresh":
        r = rows("streaming.refresh")
        m["streaming.tiles_per_batch"] = median([o["units"] for o in ops if o["ok"]]) or 0.0
        m["streaming.rows_read_per_tile"] = ratio(sum(s["input_records"] for s in r),
                                                  sum(op_units[s["op"]] for s in r)) or 0.0
        m["streaming.jobs_per_batch"] = med_of(r, "jobs")
        m["streaming.exec_s_per_batch"] = med_of(r, "exec_s")
        m["streaming.driver_s_per_batch"] = median([s["wall_s"] - s["job_s"] for s in r]) or 0.0

    return m


def result(record, golden, trace):
    """Correctness verdict plus the metrics of the contract line."""
    ops = record["ops"]
    g = golden_for(golden, record)
    failed = count_failures(ops, g.get("checks", {}))
    final_ok = not g.get("final") or g["final"] == record["final_check"]
    if not final_ok:
        failed = max(failed, 1)
    correct = failed == 0 and not record["errors"] and bool(ops)
    if trace:
        vals = per_layer(record)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        vals = {"setup_s": setup_s(record), "items_per_s": throughput(record)}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    return {"contract": {"correct": correct, "attempted": len(ops), "failed": failed,
                         "metrics": metrics},
            "final_ok": final_ok, "golden": bool(g)}


def fmt(v, unit):
    return ("%.6g %s" % (v, unit)) if v is not None else "n/a"


def report_lines(record, res):
    """Human-readable lines: host labels, every metric of the workload by
    name and unit (including the workload-specific names of README.md),
    sample counts and output checks."""
    w = record["workload"]
    ops = record["ops"]
    c = res["contract"]
    h = record["host"]
    yield ("host: nproc=%d heap_max_mb=%.0f cpu_probe_s=%.3f mem_probe_s=%.3f"
           % (h["nproc"], h["heap_max_mb"], h["cpu_probe_s"], h["mem_probe_s"]))
    yield "%s seed=%s: %d ops, %d failed, golden %s, final check %s" % (
        w, record["seed"], c["attempted"], c["failed"],
        "recorded" if res["golden"] else "not recorded for this seed",
        "ok" if res["final_ok"] else "MISMATCH")
    for e in record["errors"][:5]:
        yield "error: " + e
    lat = [o["lat_s"] for o in ops]
    named = {"setup_s": (setup_s(record), "s"),
             "items_per_s": (throughput(record), "1/s"),
             "peak_rss_mb": (record["peak_rss_mb"], "MB"),
             "error_rate": (c["failed"] / max(1, c["attempted"]), "ratio")}
    if w == "pyramid_build":
        named["tiles_per_s"] = (rate(units(ops), ops), "tiles/s")
    elif w == "spatial_queries":
        named["query_p50_s"] = (percentile(lat, 0.5), "s")
        named["query_p90_s"] = (percentile(lat, 0.9), "s")
        dd = [o for o in ops if o["kind"] == "dedup"]
        named["dedup_images_per_s"] = (rate(units(dd), dd) if dd else None, "images/s")
    elif w == "tile_refresh":
        named["refresh_p50_s"] = (percentile(lat, 0.5), "s")
        named["refresh_tiles_per_s"] = (rate(units(ops), ops), "tiles/s")
    for k, (v, u) in named.items():
        yield "  %-22s %s" % (k, fmt(v, u))
    yield "  (%d samples; a percentile is reported only with >= 10 samples beyond it)" % len(lat)
    for k, v in c["metrics"].items():
        yield "  metric %-30s %s" % (k, fmt(v["value"], v["unit"]))
