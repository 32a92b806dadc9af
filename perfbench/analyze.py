"""Pure metric computation for the benchmark: percentile rule, span self
time, time-window attribution of Spark events, output checks, and the
end-to-end and per-layer metrics of one run. No I/O; `run.py` feeds it the
harness's result file and `selftest.py` tests it.
"""
import math
import statistics

MB = 1048576.0

# The reference pipeline's six sources (graft.sources.Generators.registry).
ETL_SOURCES = ["sales_csv", "customer_json", "finance_db", "inventory_excel",
               "hr_flat_file", "web_logs"]


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_ms_max"):
        return "ms"
    if name.endswith("_mb") or name.endswith("_mb_max"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("core_busy") or name.endswith("_ratio"):
        return "ratio"
    return "count"


# Ladder of reportable tail percentiles, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def _rank(n, pct):
    return max(1, math.ceil(pct / 100.0 * n))


def nearest_rank(sorted_vals, pct):
    """Nearest-rank percentile of an ascending list: the smallest value with
    at least pct% of the samples at or below it."""
    return sorted_vals[_rank(len(sorted_vals), pct) - 1]


def tail(values):
    """The highest ladder percentile that still has at least ten samples
    beyond its rank, as (percentile, value, samples beyond). Falls back to
    the median when even that has fewer than ten beyond."""
    vals = sorted(values)
    n = len(vals)
    best = TAIL_LADDER[0]
    for pct in TAIL_LADDER:
        if n - _rank(n, pct) >= TAIL_BEYOND:
            best = pct
    return best, nearest_rank(vals, best), n - _rank(n, best)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its children
    cover (overlapping children counted once)."""
    s0, s1 = span
    clipped = [(max(c0, s0), min(c1, s1)) for c0, c1 in children]
    return (s1 - s0) - union_length(clipped)


def overlap(a0, a1, b0, b1):
    return max(0.0, min(a1, b1) - max(a0, b0))


def attribute(leaves, t0, t1=None):
    """Index of the leaf span an event belongs to by time window: for an
    interval, the leaf it overlaps most; for an instant, the leaf holding
    it. None when the event fell outside every leaf."""
    best, best_ov = None, 0.0
    for i, (s0, s1) in enumerate(leaves):
        if t1 is None:
            if s0 <= t0 <= s1:
                return i
        else:
            ov = overlap(s0, s1, t0, t1)
            if ov > best_ov:
                best, best_ov = i, ov
    return best


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None and not (isinstance(x, float) and math.isnan(x))]
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------- checks

def check_query_op(op, expected):
    """Failure reason for one query or drain, or None if it passed."""
    if op.get("error"):
        return op["error"]
    want = expected.get(op["name"])
    if want is None:
        return "no expected fingerprint"
    if op.get("fp") != want:
        return "fingerprint %s != expected %s" % (op.get("fp"), want)
    return None


def check_etl_pass(p, expected, health_before):
    """Failure reasons per source load of one pipeline run, plus one for the
    health write ('health'), as a dict of name -> reason (None if ok)."""
    out = {}
    for op in p["ops"]:
        want = expected.get(op["name"])
        if op.get("error"):
            out[op["name"]] = op["error"]
        elif want is None:
            out[op["name"]] = "no expected counts"
        elif op["status"] != "SUCCESS":
            out[op["name"]] = "status %s" % op["status"]
        elif (op["records_in"], op["records_out"]) != (want["records_in"], want["records_out"]):
            out[op["name"]] = "records in/out %d/%d != expected %d/%d" % (
                op["records_in"], op["records_out"], want["records_in"], want["records_out"])
        elif op["read_back"] != op["records_out"]:
            out[op["name"]] = "read back %d rows != records_out %d" % (
                op["read_back"], op["records_out"])
        else:
            out[op["name"]] = None
    grew = p["health_rows"] - health_before
    n = len(p["ops"])
    if p.get("health_error"):
        out["health"] = p["health_error"]
    elif grew != n:
        out["health"] = "pipeline_health grew by %d rows, expected %d" % (grew, n)
    else:
        out["health"] = None
    return out


def check_run(result, workload, expected):
    """(attempted, failures) over every pass of a run; failures is a list of
    (pass index, operation, reason)."""
    attempted, failures = 0, []
    health = 0
    for p in result["passes"]:
        if workload["kind"] == "etl":
            verdicts = check_etl_pass(p, expected, health)
            health = p["health_rows"]
        else:
            verdicts = {op["name"]: check_query_op(op, expected) for op in p["ops"]}
            # a listed operation the pass never ran is a failure too
            for name in workload["ops"]:
                verdicts.setdefault(name, "not run")
        for name, why in verdicts.items():
            attempted += 1
            if why:
                failures.append((p["idx"], name, why))
    return attempted, failures


# ---------------------------------------------------------------- metrics

def measured(passes):
    """The warm passes that count: the warm-up passes after the cold one
    are run and checked but not timed."""
    return [p for p in passes if p["warm"] and not p.get("warmup")]


def end_to_end(result, workload, setup_samples):
    passes = result["passes"]
    warm = [p for p in measured(passes) if not p["traced"]]
    op_walls = [op["wall_s"] for p in warm for op in p["ops"]]
    pct, tail_v, beyond = tail(op_walls)
    if workload["kind"] == "etl":
        rows = [sum(max(op["records_in"], 0) for op in p["ops"]) / p["wall_s"] for p in warm]
    else:
        rows = [sum(int(op["fp"].split(":")[0]) for op in p["ops"] if op.get("fp")) / p["wall_s"]
                for p in warm]
    metrics = {
        "setup_s": (median(setup_samples), "s"),
        "pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "op_p50_s": (nearest_rank(sorted(op_walls), 50.0), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (median(rows), "1/s"),
    }
    # the cold pass is one sample per run and moves with the CPU the host
    # lends the machine, so it is reported here, without a bound
    info = {"cold_pass_s": passes[0]["wall_s"], "peak_rss_mb": result.get("rss_peak_mb"),
            "op_tail_pct": pct, "op_tail_beyond": beyond, "op_samples": len(op_walls),
            "warm_passes": len(warm)}
    return metrics, info


def build_tree(trace):
    """Harness spans plus derived job and trigger spans, with every Spark
    event attributed to the innermost harness span (a leaf) whose time
    window holds it. Returns (spans, per-leaf event lists)."""
    spans = [dict(id=s[0], parent=s[1], layer=s[2], name=s[3], t0=s[4], t1=s[5])
             for s in trace["spans"]]
    parents = {s["parent"] for s in spans}
    leaves = [s for s in spans if s["id"] not in parents and s["layer"] != "pass"]
    windows = [(s["t0"], s["t1"]) for s in leaves]
    ev = {s["id"]: dict(jobs=[], stages=[], tasks=[], progress=[]) for s in leaves}
    unattributed = 0
    nxt = len(spans)
    for job_id, t0, t1, _ in trace["jobs"]:
        i = attribute(windows, t0, t1)
        if i is None:
            unattributed += 1
            continue
        leaf = leaves[i]
        ev[leaf["id"]]["jobs"].append((t0, t1))
        spans.append(dict(id=nxt, parent=leaf["id"], layer="job", name="job%d" % job_id,
                          t0=float(t0), t1=float(t1)))
        nxt += 1
    for st in trace["stages"]:
        i = attribute(windows, st[1])
        if i is not None:
            ev[leaves[i]["id"]]["stages"].append(st)
    for t in trace["tasks"]:
        i = attribute(windows, (t[0] + t[1]) / 2.0)
        if i is None:
            unattributed += 1
        else:
            ev[leaves[i]["id"]]["tasks"].append(t)
    for pr in trace["progress"]:
        i = attribute(windows, pr["t0"])
        if i is None:
            continue
        leaf = leaves[i]
        ev[leaf["id"]]["progress"].append(pr)
        spans.append(dict(id=nxt, parent=leaf["id"], layer="trigger", name="trigger",
                          t0=float(pr["t0"]), t1=float(pr["t0"] + pr["trigger_ms"])))
        nxt += 1
    return spans, leaves, ev, unattributed


def _pass_of(spans_by_id, s):
    while s["parent"] >= 0:
        s = spans_by_id[s["parent"]]
    return s["name"] if s["layer"] == "pass" else None


def per_layer(result, trace, workload, cores):
    """Every per-layer metric, as medians over the traced warm passes."""
    spans, leaves, ev, unattributed = build_tree(trace)
    by_id = {s["id"]: s for s in spans}
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in measured(result["passes"]) if not p["traced"]]
    per_pass = {}
    residual_ms = 0.0
    for leaf in leaves:
        pname = _pass_of(by_id, leaf)
        if pname is None:
            continue
        acc = per_pass.setdefault(pname, {})
        e = ev[leaf["id"]]
        dur = (leaf["t1"] - leaf["t0"]) / 1000.0
        key = leaf["layer"]

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v
        if key == "orchestrate":
            add("orchestrate.%s_s" % leaf["name"], dur)
        add(key + ".s", dur)
        add(key + ".jobs", len(e["jobs"]))
        add(key + ".stages", len(e["stages"]))
        add(key + ".tasks", len(e["tasks"]))
        add(key + ".task_s", sum(t[2] for t in e["tasks"]) / 1000.0)
        add(key + ".cpu_s", sum(t[3] for t in e["tasks"]) / 1e9)
        add(key + ".gc_s", sum(t[4] for t in e["tasks"]) / 1000.0)
        add(key + ".shuffle_write_mb", sum(t[5] for t in e["tasks"]) / MB)
        add(key + ".shuffle_read_mb", sum(t[6] for t in e["tasks"]) / MB)
        add(key + ".spill_mb", sum(t[7] for t in e["tasks"]) / MB)
        add(key + ".driver_s", self_time((leaf["t0"], leaf["t1"]), e["jobs"]) / 1000.0)
        pr = e["progress"]
        if pr:
            add("stream.batches", len(pr))
            add("stream.input_rows", sum(x["input_rows"] for x in pr))
            trig = sum(x["trigger_ms"] for x in pr) / 1000.0
            add("stream.trigger_s", trig)
            add("stream.add_batch_s", sum(x["add_batch_ms"] for x in pr) / 1000.0)
            add("stream.planning_s", sum(x["planning_ms"] for x in pr) / 1000.0)
            add("stream.commit_s", sum(x["commit_ms"] for x in pr) / 1000.0)
            add("stream.offset_s", sum(x["offset_ms"] for x in pr) / 1000.0)
            add("stream.state_rows", max(x["state_rows"] for x in pr))
            add("stream.state_mb", max(x["state_bytes"] for x in pr) / MB)
            add("stream.outside_trigger_s", dur - trig)
    # operation spans: construct + plan + exec must account for the op wall
    for s in spans:
        if s["layer"] == "op":
            kids = [c for c in spans if c["parent"] == s["id"]]
            residual_ms = max(residual_ms, (s["t1"] - s["t0"]) - sum(c["t1"] - c["t0"] for c in kids))

    def med(name):
        return median([per_pass.get("pass%d" % p["idx"], {}).get(name, 0.0) for p in traced])

    m = {}
    m["engine.session_s"] = result["session_s"]
    m["engine.tune_s"] = result["tune_s"]
    m["engine.reset_s"] = median([p["reset_s"] for p in measured(result["passes"])])
    m["engine.live_rdds_max"] = result["live_rdds_max"]
    m["engine.storage_mb_max"] = result["storage_mb_max"]
    m["engine.heap_after_pass_mb"] = median([p["heap_after_mb"] for p in measured(result["passes"])])
    m["engine.peak_rss_mb"] = result["rss_peak_mb"]
    for k in ("s", "jobs", "task_s", "driver_s"):
        m["construct." + k] = med("construct." + k)
    m["plan.s"] = med("plan.s")
    for k in ("s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "driver_s"):
        m["exec." + k] = med("exec." + k)
    m["exec.core_busy"] = m["exec.task_s"] / (cores * m["exec.s"]) if m["exec.s"] else 0.0
    for src in ETL_SOURCES + ["health"]:
        m["orchestrate.%s_s" % src] = med("orchestrate.%s_s" % src)
    m["orchestrate.jobs"] = med("orchestrate.jobs")
    m["orchestrate.task_s"] = med("orchestrate.task_s")
    orch_s = med("orchestrate.s")
    m["orchestrate.core_busy"] = m["orchestrate.task_s"] / (cores * orch_s) if orch_s else 0.0
    etl = workload["kind"] == "etl"
    ins = [sum(op["records_in"] for op in p["ops"]) for p in traced] if etl else []
    outs = [sum(op["records_out"] for op in p["ops"]) for p in traced] if etl else []
    m["clean.records_in"] = median(ins)
    m["clean.records_out"] = median(outs)
    m["clean.drop_ratio"] = (1.0 - m["clean.records_out"] / m["clean.records_in"]) \
        if m["clean.records_in"] else 0.0
    # the full-row dedup is the only exchange in a source's plan
    m["clean.shuffle_write_mb"] = med("orchestrate.shuffle_write_mb")
    m["load.output_mb"] = median([sum(op["bytes"] for op in p["ops"]) / MB for p in traced]) if etl else 0.0
    m["load.output_rows"] = median([sum(op["read_back"] for op in p["ops"]) for p in traced]) if etl else 0.0
    m["load.files"] = median([sum(op["files"] for op in p["ops"]) for p in traced]) if etl else 0.0
    for k in ("batches", "input_rows", "trigger_s", "add_batch_s", "planning_s", "commit_s",
              "offset_s", "state_rows", "state_mb", "outside_trigger_s"):
        m["stream." + k] = med("stream." + k)
    t_pass = median([p["wall_s"] for p in traced])
    u_pass = median([p["wall_s"] for p in untraced])
    m["trace.overhead_pct"] = 100.0 * (t_pass / u_pass - 1.0) if u_pass else 0.0
    m["trace.op_residual_ms_max"] = residual_ms
    m["trace.unattributed_events"] = unattributed
    return m, spans
