"""Turns the JSON documents the benchmark JVMs write into metrics.

Pure functions only, so that perfbench/test_stats.py can check the
arithmetic: percentiles and the samples-beyond rule, self time, and the
ratios the metrics are built from.
"""
import math
import statistics

RARE_DF_SHARE = 0.001   # a term is rare below 0.1% document frequency
MIN_BEYOND = 10         # a reported percentile needs this many samples above it
TAIL = 50               # the highest percentile 20 requests give 10 beyond


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def min_samples(q, need=MIN_BEYOND):
    """Fewest samples for which the q-th percentile has `need` beyond it."""
    n = need
    while beyond(n, q) < need:
        n += 1
    return n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(covered)
    return out


def ratio(num, den):
    """num / den, or NaN when den is 0."""
    return num / den if den else float("nan")


def median(xs):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else float("nan")


def metric(value, unit):
    return {"value": value, "unit": unit}


def failed_ops(doc):
    """Distinct operation ids with a failed check."""
    return sorted({f.split(": ", 1)[0] for f in doc["failed"]})


def end_to_end(main):
    b, lat = main["build"], {}
    for op, key, cls, start, end, traced in main["samples"]:
        lat.setdefault(cls, []).append(end - start)
    every = [x for v in lat.values() for x in v]
    if beyond(len(every), TAIL) < MIN_BEYOND:
        raise ValueError("%d requests: too few for p%d" % (len(every), TAIL))
    return {
        "setup_s": metric(median(main["setup_serve_s"]), "s"),
        "build_files_per_s": metric(ratio(b["build_files"], b["build_s"]), "1/s"),
        "append_s": metric(b["append_s"], "s"),
        "index_bytes_per_content_byte": metric(
            ratio(b["index_bytes"], main["corpus"]["content_bytes"]), "ratio"),
        "req_per_s": metric(ratio(main["serve"]["requests"], main["serve"]["window_s"]), "1/s"),
        "token_p50_s": metric(median(lat.get("token", [])), "s"),
        "phrase_p50_s": metric(median(lat.get("phrase", [])), "s"),
        "bool_p50_s": metric(median(lat.get("bool", [])), "s"),
        "suggest_p50_s": metric(median(lat.get("suggest", [])), "s"),
        "p50_s": metric(percentile(every, TAIL), "s"),
    }


def _spans_by(spans, name):
    return [s for s in spans if s["name"] == name]


def _dur(s):
    return s["end"] - s["start"]


def _one(spans, name):
    xs = _spans_by(spans, name)
    return xs[0] if xs else None


def _by_req(spans, name):
    return {s["req"]: s for s in _spans_by(spans, name)}


def build_layers(main):
    """Per-layer build metrics: phases from manifest mtimes, utilization and
    skew from the listener's task intervals, self times net of the layer
    below (segments run postings; write runs merge)."""
    spans, tasks, jobs = main["spans"], main["tasks"], main["jobs"]
    ph = main["phases.build"]
    build = _one(spans, "checkpoint.build")
    b0, b1 = ph["start"], ph["buckets_end"]
    busy, per_stage = 0.0, {}
    for session, stage, span, launch, finish in tasks:
        if span != build["id"]:
            continue
        busy += max(0.0, min(finish, b1) - max(launch, b0))
        if finish <= b1:
            per_stage.setdefault((session, stage), []).append(finish - launch)
    skews = [max(d) / statistics.median(d) for d in per_stage.values()
             if len(d) >= 4 and statistics.median(d) > 0]
    append = _one(spans, "checkpoint.append")
    validate = sum(j["end"] - j["start"] for j in jobs if j["span"] == append["id"]
                   and j["call_site"].startswith("collect at CheckpointedBuild"))
    n4 = ratio(main["build_n4"]["n4_files"], main["build_n4"]["n4_s"])
    n1 = ratio(main["build1"]["n1_files"], main["build1"]["n1_s"])
    post, seg = _one(spans, "analyze.postings"), _one(spans, "index.segments")
    merge, write = _one(spans, "index.merge"), _one(spans, "index.write")
    return {
        "checkpoint.buckets_s": metric(b1 - b0, "s"),
        "checkpoint.buckets.util": metric(ratio(busy, (b1 - b0) * 4), "ratio"),
        "checkpoint.buckets.task_skew": metric(max(skews) if skews else 1.0, "ratio"),
        "checkpoint.merge_publish_s": metric(ph["published"] - b1, "s"),
        "checkpoint.validate_s": metric(validate, "s"),
        "checkpoint.build_1core_files_per_s": metric(n1, "1/s"),
        "checkpoint.scaling_eff": metric(ratio(n4, n1) / 4, "ratio"),
        "analyze.postings_s": metric(_dur(post), "s"),
        "analyze.tokens": metric(main["layers.build"]["tokens"], "count"),
        "index.segments_s": metric(_dur(seg) - _dur(post), "s"),
        "index.shuffle_write_bytes": metric(seg.get("shuffle_write_bytes", 0), "bytes"),
        "index.merge_s": metric(_dur(merge), "s"),
        "index.write_s": metric(_dur(write) - _dur(merge), "s"),
        "index.bytes_written": metric(main["layers.build"]["index_bytes_written"], "bytes"),
    }


def serve_layers(main):
    """Per-layer serving metrics from the probe spans (every request of the
    cycle over HTTP, and the layer probes of the ones marked `probe`, on the
    idle server) and the window samples."""
    spans, df = main["spans"], main["df"]
    http = _by_req(spans, "HttpServe.request")
    sess, sugg = _by_req(spans, "Serve.session"), _by_req(spans, "Serve.suggest")
    app, plan = _by_req(spans, "Serve.log_append"), _by_req(spans, "search.plan")
    exe = _by_req(spans, "search.exec")
    dec, topk = _by_req(spans, "functions.decode"), _by_req(spans, "search.score_topk")
    probes = {int(k.split(".")[1]): v for k, v in main.items() if k.startswith("probe.")}
    jobs_per, tasks_per = {}, {}
    for k in plan:
        ids = {plan[k]["id"], exe[k]["id"]}
        jobs_per[k] = sum(1 for j in main["jobs"] if j["span"] in ids)
        tasks_per[k] = plan[k].get("tasks", 0) + exe[k].get("tasks", 0)
    overhead = [_dur(http[k]) - _dur(sess[k]) for k in sess] + \
               [_dur(http[k]) - _dur(sugg[k]) for k in sugg]
    waits = [(e - s) - _dur(http[key]) for _, key, _, s, e, _ in main["samples"] if key in http]
    decoded = {k: sum(df.get(t, 0) for t in probes[k]["scored_terms"]) for k in dec}
    cands = [p for p in probes.values() if p["candidates"] > 0]
    traced = [e - s for _, _, _, s, e, t in main["samples"] if t]
    untraced = [e - s for _, _, _, s, e, t in main["samples"] if not t]
    return {
        "HttpServe.overhead_s": metric(median(overhead), "s"),
        "HttpServe.queue_wait_s": metric(median(waits), "s"),
        "Serve.log_append_s": metric(median([_dur(s) for s in app.values()]), "s"),
        "Serve.suggest_s": metric(median([_dur(s) for s in sugg.values()]), "s"),
        "Serve.hydrate_render_s": metric(median(
            [_dur(sess[k]) - _dur(app[k]) - _dur(plan[k]) - _dur(exe[k]) for k in sess]), "s"),
        "search.plan_s": metric(median([_dur(s) for s in plan.values()]), "s"),
        "search.jobs_per_req": metric(median(list(jobs_per.values())), "count"),
        "search.tasks_per_req": metric(median(list(tasks_per.values())), "count"),
        "search.candidates_s": metric(median(
            [_dur(s) for s in _spans_by(spans, "search.candidates")]), "s"),
        "search.candidate_rows": metric(median([p["candidates"] for p in cands]), "count"),
        "search.verify_rows": metric(median(
            [s.get("input_records", 0) for s in _spans_by(spans, "search.verify")]), "count"),
        "search.candidate_yield": metric(ratio(sum(p["matches"] for p in cands),
                                               sum(p["candidates"] for p in cands)), "ratio"),
        "functions.decode_s": metric(median([_dur(s) for s in dec.values()]), "s"),
        "functions.postings_decoded": metric(median(list(decoded.values())), "count"),
        "index.scan_bytes": metric(median([s.get("input_bytes", 0) for s in dec.values()]), "bytes"),
        "search.score_topk_s": metric(median([_dur(topk[k]) - _dur(dec[k]) for k in dec]), "s"),
        "search.decoded_per_result": metric(median(
            [ratio(decoded[k], max(1, probes[k]["results"])) for k in dec]), "ratio"),
        "tracing.overhead_p50_s": metric(median(traced) - median(untraced), "s"),
    }


def span_table(spans):
    """Per span name: count, total and self seconds, and listener totals."""
    selfs = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0,
                                           "cpu_s": 0.0, "gc_s": 0.0,
                                           "spill_bytes": 0, "input_bytes": 0})
        row["n"] += 1
        row["total_s"] += _dur(s)
        row["self_s"] += selfs[s["id"]]
        for k in ("cpu_s", "gc_s", "spill_bytes", "input_bytes"):
            row[k] += s.get(k, 0)
    return table


def rare_share(main):
    """Share of served requests with a query term below RARE_DF_SHARE."""
    n = main["corpus"]["base_docs"] + main["corpus"]["delta_docs"]
    rare = [any(main["df"].get(t, 0) < RARE_DF_SHARE * n for t in m["terms"])
            for m in main["mix"]]
    keys = [s[1] for s in main["samples"]]
    return ratio(sum(1 for k in keys if rare[k]), len(keys))


def summarize(main, trace):
    """(result line, detail line) for one run."""
    failed = failed_ops(main)
    e2e = end_to_end(main)
    counts = {}
    for s in main["samples"]:
        counts[s[2]] = counts.get(s[2], 0) + 1
    detail = {
        "fingerprint": dict(main["fingerprint"], steal_s=main["steal_s"]),
        "peak_rss_mb": main["peak_rss_mb"],
        "requests_per_class": counts,
        "df": main["df"],
        "rare_share": rare_share(main),
        "failures": main["failed"],
    }
    if trace:
        metrics = dict(build_layers(main), **serve_layers(main))
        metrics["jvm.peak_rss_mb"] = metric(main["peak_rss_mb"], "MB")
        detail["end_to_end_traced"] = {k: v["value"] for k, v in e2e.items()}
        detail["spans"] = span_table(main["spans"])
    else:
        metrics = e2e
    result = {"correct": not failed,
              "attempted": main["attempted"],
              "failed": len(failed), "metrics": metrics}
    return result, detail
