"""Arithmetic of the benchmark: percentiles, the tail rule, interval unions,
span self time, recall and the metrics derived from one run's raw record.

Times in the raw record are microseconds since the run began.
"""
import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    rank = max(1, _rank(p, len(s)))
    return s[min(rank, len(s)) - 1]


def _rank(p, n):
    """ceil(p% of n), immune to the float error of p / 100 * n."""
    return math.ceil(round(p * n / 100.0, 9))


def tail_percentile(n):
    """The highest percentile of the ladder with at least ten of n samples
    beyond it, or None when n is too small for any rung."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def tail(values):
    """(percentile, value) of the tail rule, or None when fewer than twenty
    samples leave no percentile with ten beyond it."""
    p = tail_percentile(len(values))
    return None if p is None else (p, percentile(values, p))


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(op_t0, op_t1, job_spans):
    """Op wall time not covered by any of its Spark jobs."""
    return (op_t1 - op_t0) - union_length(job_spans, op_t0, op_t1)


def self_time(t0, t1, child_spans, child_durations=()):
    """A span's duration minus the part of it its children cover. Children
    given only as durations (planning phases) are subtracted whole, and
    self time never drops below zero."""
    covered = union_length(child_spans, t0, t1) + sum(child_durations)
    return max(0, (t1 - t0) - covered)


def error_rate(ops):
    """Failed ops over attempted ops."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def recall_at_k(results, truth, k=10):
    """Mean over queries of |result top-k ∩ truth top-k| / k. `results` and
    `truth` map a query id to its neighbour ids in rank order."""
    if not results:
        raise ValueError("no queries")
    hits = 0
    for q, ids in results.items():
        hits += len(set(ids[:k]) & set(truth[q][:k]))
    return hits / (k * len(results))


# ---------------------------------------------------------------- run metrics

def _ms(us):
    return us / 1000.0


def _wall(o):
    return o["t1"] - o["t0"]


def end_to_end(raw):
    """Every end-to-end metric one run measures, as name -> (value, unit,
    note). The workload-specific ones appear only where they apply."""
    ops = raw["ops"]
    if not ops:
        raise ValueError("the timed loop ran no op")
    walls = [_ms(_wall(o)) for o in ops]
    loop_s = (raw["loop"]["t1"] - raw["loop"]["t0"]) / 1e6
    passes = len(ops) // raw["pass"]
    out = {
        "setup_s": (raw["setup"]["t1"] / 1e6, "s", "run start to first op, incl. Spark start"),
        "ops_per_s": (len(ops) / loop_s, "ops/s", f"{len(ops)} ops in {passes} passes, {loop_s:.1f} s"),
        "op_p50_ms": (percentile(walls, 50), "ms", f"median of {len(ops)} ops in {passes} passes"),
        "error_rate": (error_rate(ops), "ratio", f"{sum(not o['ok'] for o in ops)} of {len(ops)} failed"),
    }
    t = tail(walls)
    if t:
        out["op_tail_ms"] = (t[1], "ms", f"p{t[0]:g} of {len(ops)} ops")
    if raw["workload"] == "ann_ingest":
        fin = raw["final"]
        for method in ("exact", "hnsw", "ivfadc"):
            m = [o for o in ops if o["kind"] == method]
            if m:
                q = sum(o["queries"] for o in m)
                out[f"{method}_qps"] = (q / (sum(_wall(o) for o in m) / 1e6), "1/s",
                                        f"{q} query vectors in {len(m)} ops")
        truth = _ids(fin["truth"])
        res = {}
        for o in ops:
            if o["kind"] == "hnsw":
                res.update(_ids(o["ids"]))
        if res:
            out["hnsw_recall_at_10"] = (recall_at_k(res, truth), "ratio",
                                        f"{len(res)} distinct queries, static base")
        live = _ids(fin["live_ids"])
        out["ivfadc_recall_at_10"] = (recall_at_k(live, _ids(fin["live_truth"])), "ratio",
                                      f"{len(live)} queries on the final live index")
        ing = [o for o in ops if o["kind"] == "ingest"]
        if ing:
            rows = sum(o["rows"] for o in ing)
            out["ingest_vectors_per_s"] = (rows / (sum(_wall(o) for o in ing) / 1e6), "1/s",
                                           f"{rows} CDC rows in {len(ing)} ingest ops")
        sized = [o for o in ops if o["kind"] in ("ingest", "compact") and o["ok"]]
        if sized:
            out["index_bytes_per_vector"] = (
                statistics.mean(o["index_bytes"] / o["live_vectors"] for o in sized), "B",
                f"mean after {len(sized)} ingest and compact ops")
    return out


def _ids(m):
    return {int(q): ids for q, ids in m.items()}


class Tree:
    """The traced spans, Spark jobs and stages, and planning phases of one
    run, each attached to the node that caused it."""

    def __init__(self, raw):
        self.spans = {s["id"]: dict(s) for s in raw["spans"]}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.op_spans = {o["span"]: o for o in raw["ops"] if o["traced"]}
        self.jobs = [j for j in raw["jobs"] if j["t1"] >= 0]
        stages = {}
        for st in raw["stages"]:
            stages.setdefault(st["id"], []).append(st)
        self.job_stages = {}
        for j in self.jobs:
            self.job_stages[j["id"]] = [a for sid in j["stages"] for a in stages.pop(sid, [])]
        self.job_parent = {j["id"]: self._parent_of_job(j) for j in self.jobs}
        self.plans = [(self._innermost(p["t1"]), p) for p in raw["plans"] if p["t1"] >= 0]
        self.progress = raw["progress"]

    def _innermost(self, t):
        best = None
        for s in self.spans.values():
            if s["t0"] <= t <= s["t1"] and (best is None or s["t1"] - s["t0"] < best["t1"] - best["t0"]):
                best = s
        return best["id"] if best else 0

    def _parent_of_job(self, j):
        if j["span"] in self.spans:
            return j["span"]
        # jobs of the streaming thread carry no span: attribute by time
        return self._innermost(j["t0"])

    def op_of(self, span_id):
        """The traced op span a node sits under, or 0 (set-up, untraced)."""
        while span_id and span_id not in self.op_spans:
            span_id = self.spans.get(span_id, {}).get("parent", 0)
        return span_id

    def jobs_of_op(self, op_span):
        return [j for j in self.jobs if self.op_of(self.job_parent[j["id"]]) == op_span]

    def plans_of_op(self, op_span):
        return [p for sid, p in self.plans if self.op_of(sid) == op_span]

    def self_times(self):
        """(layer, name, op span or 0, self time us) for every span, and for
        the Spark jobs and stages under each span."""
        jobs_by_parent = {}
        for j in self.jobs:
            jobs_by_parent.setdefault(self.job_parent[j["id"]], []).append(j)
        plan_ms = {}
        for sid, p in self.plans:
            plan_ms.setdefault(sid, []).append(
                1000 * (p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]))
        out = []
        for s in self.spans.values():
            kids = [(self.spans[c]["t0"], self.spans[c]["t1"]) for c in self.children.get(s["id"], [])]
            kids += [(j["t0"], j["t1"]) for j in jobs_by_parent.get(s["id"], [])]
            op = self.op_of(s["id"])
            out.append((s["layer"], s["name"], op, self_time(s["t0"], s["t1"], kids, plan_ms.get(s["id"], ()))))
            for d in plan_ms.get(s["id"], ()):
                out.append(("plans", "catalyst", op, d))
        # jobs of one span may overlap (broadcasts, subqueries): count the
        # union of their intervals once, split into stage time and the rest
        for sid, jobs in jobs_by_parent.items():
            span = self.spans.get(sid)
            lo, hi = (span["t0"], span["t1"]) if span else (None, None)
            spans = [(j["t0"], j["t1"]) for j in jobs]
            stages = [(st["t0"], st["t1"]) for j in jobs for st in self.job_stages[j["id"]]
                      if st["t0"] >= 0 and st["t1"] >= 0]
            busy = union_length(spans, lo, hi)
            staged = union_length(stages, lo, hi)
            op = self.op_of(sid)
            out.append(("spark", "stage", op, staged))
            out.append(("spark", "job", op, max(0, busy - staged)))
        return out


LAYERS = ("client", "queries", "sources", "plans", "functions", "operators", "streaming", "spark")


def setup_breakdown(raw):
    """ms of each span directly under the set-up span (traced runs)."""
    spans = raw["spans"]
    setup = [s["id"] for s in spans if s["name"] == "setup"]
    return {s["name"]: _ms(s["t1"] - s["t0"]) for s in spans if s["parent"] in setup}


def layer_budget(raw):
    """Mean self time per traced op, in ms, of each layer."""
    tree = Tree(raw)
    n = len(tree.op_spans)
    budget = {layer: 0.0 for layer in LAYERS}
    if not n:
        return budget
    for layer, _name, op, us in tree.self_times():
        if op:
            budget[layer] += _ms(us) / n
    return budget


def per_layer(raw, names):
    """The named per-layer metrics from a traced run. A metric of a layer
    the workload does not run is None."""
    tree = Tree(raw)
    traced = [o for o in raw["ops"] if o["traced"]]
    n = max(1, len(traced))
    vals = dict.fromkeys(names)

    def span_ms(name, ops_only=True):
        d = [_ms(s["t1"] - s["t0"]) for s in tree.spans.values()
             if s["name"] == name and (not ops_only or tree.op_of(s["id"]))]
        return d

    def mean(xs):
        return sum(xs) / len(xs) if xs else None

    # queries: the untraced ops give each module's seconds per op
    vals["queries.construct_ms"] = mean(span_ms("construct"))
    vals["queries.action_ms"] = mean(span_ms("action"))
    by_module = {}
    for o in raw["ops"]:
        if o["kind"] == "query" and not o["traced"]:
            by_module.setdefault(f"queries.{o['group']}.s", []).append(_wall(o) / 1e6)
    for key, walls in by_module.items():
        if key in vals:
            vals[key] = mean(walls)
    # sources
    if raw["resolve_ms"]:
        vals["sources.resolve_ms"] = statistics.median(raw["resolve_ms"])
    vals["sources.files_discovered_per_op"] = sum(o["counters"]["files_discovered"] for o in traced) / n
    # plans and spark, per traced op
    agg = {k: 0.0 for k in ("scans", "analysis_ms", "optimization_ms", "planning_ms", "executions",
                            "jobs", "gap_ms", "tasks", "scheduler_delay_ms", "gc_ms", "spill_bytes",
                            "executor_run_ms", "executor_cpu_ns", "shuffle_read_bytes",
                            "shuffle_write_bytes", "shuffle_fetch_wait_ms")}
    peak = 0
    cpu_by_kind = {}
    for o in traced:
        plans = tree.plans_of_op(o["span"])
        agg["executions"] += len(plans)
        for p in plans:
            agg["scans"] += p["scans"]
            for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                agg[k] += p[k]
        jobs = tree.jobs_of_op(o["span"])
        agg["jobs"] += len(jobs)
        agg["gap_ms"] += _ms(driver_gap(o["t0"], o["t1"], [(j["t0"], j["t1"]) for j in jobs]))
        cpu = 0
        for j in jobs:
            for st in tree.job_stages[j["id"]]:
                for k in ("tasks", "scheduler_delay_ms", "gc_ms", "spill_bytes", "executor_run_ms",
                          "executor_cpu_ns", "shuffle_read_bytes", "shuffle_write_bytes",
                          "shuffle_fetch_wait_ms"):
                    agg[k] += st[k]
                cpu += st["executor_cpu_ns"]
                peak = max(peak, st["peak_exec_mem_bytes"])
        cpu_by_kind.setdefault(o["kind"], []).append((cpu, o))
    vals["sources.scans_per_op"] = agg["scans"] / n
    vals["plans.analysis_ms"] = agg["analysis_ms"] / n
    vals["plans.optimization_ms"] = agg["optimization_ms"] / n
    vals["plans.planning_ms"] = agg["planning_ms"] / n
    vals["plans.executions_per_op"] = agg["executions"] / n
    vals["spark.jobs_per_op"] = agg["jobs"] / n
    vals["spark.driver_gap_ms"] = agg["gap_ms"] / n
    vals["spark.codegen_compiles_per_op"] = sum(o["counters"]["codegen_compiles"] for o in traced) / n
    vals["spark.codegen_compile_ms"] = sum(o["counters"]["codegen_compile_ns"] for o in traced) / 1e6 / n
    vals["spark.scheduler_delay_ms"] = agg["scheduler_delay_ms"] / n
    vals["spark.tasks_per_op"] = agg["tasks"] / n
    vals["spark.gc_ms"] = agg["gc_ms"] / n
    vals["spark.spill_bytes"] = agg["spill_bytes"] / n
    vals["spark.peak_exec_mem_bytes"] = float(peak)
    vals["spark.executor_run_ms"] = agg["executor_run_ms"] / n
    vals["spark.executor_cpu_ms"] = agg["executor_cpu_ns"] / 1e6 / n
    vals["spark.shuffle_read_bytes"] = agg["shuffle_read_bytes"] / n
    vals["spark.shuffle_write_bytes"] = agg["shuffle_write_bytes"] / n
    vals["spark.shuffle_fetch_wait_ms"] = agg["shuffle_fetch_wait_ms"] / n
    # functions: executor CPU per unit of kernel work
    ex = cpu_by_kind.get("exact", [])
    pairs = sum(o["pairs"] for _, o in ex)
    if pairs:
        vals["functions.exact_ns_per_pair"] = sum(c for c, _ in ex) / pairs
    iv = [(c, o) for c, o in cpu_by_kind.get("ivfadc", []) if o.get("codes_scanned")]
    codes = sum(o["codes_scanned"] for _, o in iv)
    if codes:
        vals["functions.ivfadc_ns_per_code"] = sum(c for c, _ in iv) / codes
        vals["operators.IvfAdc.codes_scanned_per_query"] = codes / sum(o["queries"] for _, o in iv)
    # operators: set-up builds once, searches per call
    for name in ("DistributedHnsw.build", "KMeans.fit", "ProductQuantizer.train", "IvfAdc.build"):
        vals[f"operators.{name}_ms"] = mean(span_ms(name, ops_only=False))
    for name in ("DistributedHnsw.search", "BruteForceKNN.knn", "IvfAdc.searchPartitioned",
                 "IvfAdc.compact"):
        vals[f"operators.{name}_ms"] = mean(span_ms(name))
    vals["operators.IvfAdc.index_files"] = mean([o["index_files"] for o in traced if "index_files" in o])
    # streaming: the micro-batches that carried rows, inside traced ops
    spans = [(o["t0"], o["t1"]) for o in traced]
    batches = [p for p in tree.progress if p["rows"] > 0 and any(a <= p["t"] <= b for a, b in spans)]
    if batches:
        def dur(k):
            return mean([p["durations"].get(k, 0) for p in batches])
        vals["streaming.cdcIvfAdcSink.batch_ms"] = dur("triggerExecution")
        vals["streaming.addBatch_ms"] = dur("addBatch")
        vals["streaming.queryPlanning_ms"] = dur("queryPlanning")
        vals["streaming.walCommit_ms"] = dur("walCommit")
        vals["streaming.latestOffset_ms"] = dur("latestOffset")
    vals["trace.overhead_pct"] = tracing_overhead(raw["ops"])
    return vals


def tracing_overhead(ops):
    """Median over op kinds (and queries) of (median traced wall / median
    untraced wall - 1), in percent; None when no kind ran both ways."""
    ratios = []
    by = {}
    for o in ops:
        key = (o["kind"], o.get("query", ""))
        by.setdefault(key, {True: [], False: []})[o["traced"]].append(_wall(o))
    for v in by.values():
        if v[True] and v[False]:
            ratios.append(statistics.median(v[True]) / statistics.median(v[False]) - 1)
    return 100.0 * statistics.median(ratios) if ratios else None
