"""Turns a harness artifact into the benchmark's metrics.

End-to-end metrics come from the untimed set-up and the timed passes;
per-layer metrics from the traced passes and the raw events the `Tracer`
recorded.  Per-layer values are per pass (the median over traced passes).
"""
import math
import os
import statistics

END_TO_END = [
    ("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("input_mb_per_s", "MB/s"), ("peak_rss_mb", "MB"),
]
# error_rate (failed / attempted ops) is 0 on a correct build, so it cannot
# be a bounded metric: it is printed beside them and carried by the result
# line's `failed` and `attempted`.
PER_LAYER = [
    ("setup.session_s", "s"), ("setup.warmup_s", "s"),
    ("sources.input_mb", "MB"), ("sources.input_rows", "count"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.stages_skipped", "count"), ("scheduler.tasks", "count"),
    ("scheduler.delay_s", "s"), ("scheduler.idle_core_frac", "ratio"),
    ("scheduler.driver_gap_s", "s"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("ckpt.blocks_written", "count"), ("ckpt.mb_written", "MB"),
    ("ckpt.peak_storage_mb", "MB"),
    ("sink.write_s", "s"),
    ("streaming.start_s", "s"), ("streaming.batches", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.plan_s", "s"), ("streaming.wal_s", "s"),
    ("streaming.offset_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"), ("streaming.state_commit_s", "s"),
    ("streaming.readback_s", "s"),
    ("jobs.map_s", "s"), ("jobs.reduce_s", "s"), ("jobs.driver_s", "s"),
    ("jobs.distinct_words", "count"), ("jobs.out_mb", "MB"), ("listen.lines", "count"),
    ("trace.overhead_frac", "ratio"), ("host.calib_scan_s", "s"), ("host.calib_ckpt_s", "s"),
]
MB = 1e6


def tail(lat):
    """(value, percentile, samples): the highest nearest-rank percentile
    with at least one sample beyond it, i.e. the second-largest latency.

    The end-to-end rule is ten samples beyond the tail; a run holds 6-12 op
    latencies, so the rule is scaled to one. The artifact records the
    percentile and the sample count."""
    s = sorted(lat)
    n = len(s)
    if n == 1:
        return s[0], 100.0, 1
    return s[-2], 100.0 * (n - 1) / n, n


def union_s(intervals, lo=None, hi=None):
    """Total length in seconds of the union of (start_ms, end_ms) intervals,
    clipped to [lo, hi]."""
    iv = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def same_op_lists(timed, traced):
    """The traced passes must run exactly the ops of the timed passes."""
    return [[o["name"] for o in p["ops"]] for p in timed] == \
        [[o["name"] for o in p["ops"]] for p in traced]


def _job_stages(jobs, stages):
    """Stage attempts run by each job: listed by the job and submitted within
    its lifetime (stage ids restart with each SparkContext)."""
    out = {}
    for j in jobs:
        ids = set(j["stages"])
        out[id(j)] = [s for s in stages if s["id"] in ids and j["start"] <= s["submit"] <= j["end"]]
    return out


def layer_metrics(art, cores, run_dir):
    """(per-layer metrics, per-op split): medians over the traced passes."""
    tr = art["trace"]
    jobs, stages = tr["jobs"], tr["stages"]
    js = _job_stages(jobs, stages)
    by_pass = {}
    for j in jobs:
        parts = j["span"].split("/")
        if len(parts) >= 2 and parts[0] == "traced":
            by_pass.setdefault(int(parts[1]), []).append(j)
    rows, per_op = [], {}
    for p, ps in enumerate(art["traced"]):
        ops = ps["ops"]
        pj = by_pass.get(p, [])
        pst = [s for j in pj for s in js[id(j)]]
        lo, hi = ops[0]["start_ms"], ops[-1]["end_ms"] + 50
        tot = lambda k: sum(s.get(k, 0.0) for s in pst)  # noqa: E731
        run_s = ps["run_s"]
        r = {
            "sources.input_mb": tot("in_bytes") / MB,
            "sources.input_rows": tot("in_rows"),
            "operators.build_s": sum(o["build_s"] for o in ops),
            "operators.build_jobs": sum(1 for j in pj if j["span"].endswith("/build")),
            "catalyst.plan_s": sum(q["ms"] for q in tr["plans"] if lo <= q["t"] <= hi) / 1000,
            "scheduler.jobs": len(pj),
            "scheduler.stages": len(pst),
            "scheduler.stages_skipped": sum(len(set(j["stages"])) - len({s["id"] for s in js[id(j)]})
                                            for j in pj),
            "scheduler.tasks": sum(s["tasks"] for s in pst),
            "scheduler.delay_s": tot("delay_ms") / 1000,
            "scheduler.idle_core_frac": 1 - (tot("dur_ms") / 1000) / (run_s * cores),
            "exec.task_run_s": tot("run_ms") / 1000,
            "exec.task_cpu_s": tot("cpu_ns") / 1e9,
            "exec.gc_s": tot("gc_ms") / 1000,
            "shuffle.write_mb": tot("sw_bytes") / MB,
            "shuffle.read_mb": tot("sr_bytes") / MB,
            "shuffle.fetch_wait_s": tot("fetch_ms") / 1000,
            "shuffle.spill_mb": tot("spill_bytes") / MB,
            "sink.write_s": sum(o["sink_s"] for o in ops),
        }
        gap = 0.0
        jobs_map = jobs_red = jobs_drv = 0.0
        for o in ops:
            oj = [j for j in pj if j["span"].startswith(o["id"] + "/")]
            ost = [s for j in oj for s in js[id(j)]]
            covered = union_s([(j["start"], j["end"]) for j in oj], o["start_ms"], o["end_ms"])
            gap += max(0.0, o["lat_s"] - covered)
            per_op.setdefault(o["name"], []).append({
                "lat_s": o["lat_s"], "build_s": o["build_s"], "sink_s": o["sink_s"],
                "jobs": len(oj), "task_run_s": sum(s.get("run_ms", 0) for s in ost) / 1000})
            if "job" in o:
                jobs_map += union_s([(s["submit"], s["complete"]) for s in ost if not s.get("result")])
                jobs_red += union_s([(s["submit"], s["complete"]) for s in ost if s.get("result")])
                jobs_drv += max(0.0, o["lat_s"] - covered)
        r["scheduler.driver_gap_s"] = gap
        # checkpoint blocks: block events that arrived during the pass
        blk = [b for b in tr["blocks"] if lo <= b["t"] <= hi]
        r["ckpt.blocks_written"] = sum(1 for b in blk if b["written"])
        r["ckpt.mb_written"] = sum(b["delta"] for b in blk if b["written"]) / MB
        level = peak = 0
        for b in tr["blocks"]:
            level += b["delta"]
            if lo <= b["t"] <= hi:
                peak = max(peak, level)
        r["ckpt.peak_storage_mb"] = peak / MB
        r.update(_streaming(tr["streams"], ops))
        r.update({"jobs.map_s": jobs_map, "jobs.reduce_s": jobs_red, "jobs.driver_s": jobs_drv})
        r.update(_wordcount_outputs(ops, run_dir))
        rows.append(r)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    med["setup.session_s"] = art["setup"]["session_s"]
    med["setup.warmup_s"] = art["setup"]["warmup_s"]
    timed = statistics.median(p["run_s"] for p in art["timed"])
    traced = statistics.median(p["run_s"] for p in art["traced"])
    med["trace.overhead_frac"] = (traced - timed) / timed
    med["host.calib_scan_s"] = art["calib"]["scan_s"]
    med["host.calib_ckpt_s"] = art["calib"]["ckpt_s"]
    split = {n: {k: statistics.median(r[k] for r in rs) for k in rs[0]} for n, rs in per_op.items()}
    return med, split


def _streaming(events, ops):
    r = dict.fromkeys(["streaming.start_s", "streaming.batches", "streaming.add_batch_s",
                       "streaming.plan_s", "streaming.wal_s", "streaming.offset_s",
                       "streaming.state_rows", "streaming.state_mb",
                       "streaming.state_commit_s", "streaming.readback_s"], 0.0)
    runs = {}
    for e in events:
        runs.setdefault(e["run"], []).append(e)
    for o in ops:
        for evs in runs.values():
            start = [e for e in evs if e["ev"] == "start"]
            if not start or not (o["start_ms"] <= start[0]["t"] <= o["end_ms"]):
                continue
            prog = [e for e in evs if e["ev"] == "progress"]
            t0 = start[0]["t"]
            if prog:
                r["streaming.start_s"] += (min(e["t"] for e in prog) - t0) / 1000
                end = max(e["t"] + e["trigger_ms"] for e in prog)
                last = max(prog, key=lambda e: e["batch"])
                r["streaming.state_rows"] += last["state_rows"]
                r["streaming.state_mb"] += last["state_bytes"] / MB
            else:
                end = t0
            r["streaming.batches"] += len(prog)
            for k, f in (("add_batch_s", "add_batch_ms"), ("plan_s", "plan_ms"),
                         ("wal_s", "wal_ms"), ("offset_s", "offset_ms"),
                         ("state_commit_s", "state_commit_ms")):
                r["streaming." + k] += sum(e[f] for e in prog) / 1000
            r["streaming.readback_s"] += max(0.0, o["build_s"] - (end - t0) / 1000)
    return r


def _count_lines(path):
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def _wordcount_outputs(ops, run_dir):
    words = out = lines = 0
    for o in ops:
        if "job" not in o:
            continue
        d = os.path.join(run_dir, "wc", o["job"])
        for f in os.listdir(d):
            if f.endswith(".out"):
                p = os.path.join(d, f)
                out += os.path.getsize(p)
                words += _count_lines(p)
        log = os.path.join(run_dir, f"{o['job']}-log.out")
        if os.path.exists(log):
            lines += _count_lines(log)
    return {"jobs.distinct_words": words, "jobs.out_mb": out / MB, "listen.lines": lines}


def spans(art, workload):
    """The traced run as a span tree: workload -> pass -> op -> {build,
    sink} -> job -> stage, with parent ids and self time (a span minus its
    children)."""
    tr = art["trace"]
    js = _job_stages(tr["jobs"], tr["stages"])
    passes = art["traced"]
    out = [{"id": workload, "parent": None, "kind": "workload",
            "start": passes[0]["ops"][0]["start_ms"], "end": passes[-1]["ops"][-1]["end_ms"]}]
    for p, ps in enumerate(passes):
        pid = f"traced/{p}"
        ops = ps["ops"]
        out.append({"id": pid, "parent": workload, "kind": "pass", "start": ops[0]["start_ms"],
                    "end": ops[-1]["end_ms"]})
        for o in ops:
            out.append({"id": o["id"], "parent": pid, "kind": "op", "name": o["name"],
                        "start": o["start_ms"], "end": o["end_ms"]})
            mid = o["start_ms"] + o["build_s"] * 1000
            for kind, a, b in (("build", o["start_ms"], mid), ("sink", mid, o["end_ms"])):
                out.append({"id": f"{o['id']}/{kind}", "parent": o["id"], "kind": kind,
                            "start": a, "end": b})
    known = {s["id"] for s in out}
    for j in tr["jobs"]:
        if j["span"] in known:
            jid = f"{j['span']}/job{j['id']}@{j['start']}"
            out.append({"id": jid, "parent": j["span"], "kind": "job", "start": j["start"],
                        "end": j["end"]})
            for s in js[id(j)]:
                out.append({"id": f"{jid}/stage{s['id']}.{s['attempt']}", "parent": jid,
                            "kind": "stage", "start": s["submit"], "end": s["complete"]})
    child = {}
    for s in out:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end"] - s["start"]
    for s in out:
        s["self_ms"] = s["end"] - s["start"] - child.get(s["id"], 0)
    return out


def summarize(art, op_bad, traced, cores, input_bytes, run_dir, workload="workload"):
    """Checks every op, computes the metrics, and returns the result line,
    the human-readable report and the artifact to keep."""
    reasons = {}
    lat, failed, attempted = [], 0, 0
    for region in ("timed", "traced"):
        for p in art.get(region, []):
            for o in p["ops"]:
                why = o["error"] if not o["ok"] else op_bad(o)
                if why:
                    reasons[o["id"]] = why
                if region == "timed":
                    attempted += 1
                    failed += bool(why)
                    lat.append(float("inf") if why else o["lat_s"])
    correct = not reasons
    if traced and not same_op_lists(art["timed"], art["traced"]):
        correct = False
        reasons["traced"] = "traced and untraced runs executed different op lists"
    run_s = statistics.median(p["run_s"] for p in art["timed"])
    t_val, t_pct, t_n = tail(lat)
    e2e = {
        "setup_s": art["setup"]["setup_s"],
        "run_s": run_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t_val,
        "input_mb_per_s": input_bytes / MB / run_s,
        "peak_rss_mb": art["vmhwm_kb"] / 1024,
    }
    error_rate = failed / attempted
    names = PER_LAYER if traced else END_TO_END
    vals, split = layer_metrics(art, cores, run_dir) if traced else (e2e, None)
    report = [f"{n:28s} {vals[n]:14.6g} {u}" for n, u in names]
    report.append(f"{'error_rate':28s} {error_rate:14.6g} ratio")
    report.append(f"# op_tail_s is p{t_pct:.1f} of {t_n} op latencies; "
                  f"{len(art['timed'])} timed passes")
    for k, why in sorted(reasons.items())[:20]:
        report.append(f"# FAILED {k}: {why}")
    # a failed op's latency is infinite, which JSON cannot carry: null
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": vals[n] if math.isfinite(vals[n]) else None, "unit": u}
                        for n, u in names}}
    keep = {"end_to_end": e2e, "error_rate": error_rate,
            "op_tail": {"percentile": t_pct, "samples": t_n},
            "setup": art["setup"], "calib": art["calib"], "failures": reasons,
            "timed": art["timed"]}
    if traced:
        keep.update(per_layer=vals, per_op=split, spans=spans(art, workload))
    return {"line": line, "report": report, "artifact": keep}
