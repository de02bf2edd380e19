"""Turns a raw run record into end-to-end and per-layer metrics.

Pure functions over the JSON the harness writes; no I/O. The helpers
at the top (percentiles, recall, error rate, span self time, job
attribution) are unit-tested in tests/test_metrics.py.
"""

import math
from collections import defaultdict

# ---------------------------------------------------------------- helpers


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between
    order statistics, with the sample count: (value, n). NaN if empty."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def tail_percentile(values, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples above
    it, as (q, value, n); (None, NaN, n) if even the median has fewer."""
    n = len(values)
    for q in candidates:
        if n * (100 - q) / 100.0 >= 10:
            return q, percentile(values, q)[0], n
    return None, math.nan, n


def recall(results, truths, k):
    """Mean over queries of |top-k result ∩ top-k truth| / k."""
    if not results:
        return math.nan
    hits = sum(len(set(r[:k]) & set(t[:k])) for r, t in zip(results, truths))
    return hits / (k * len(results))


def error_rate(attempted, failed):
    """Failed operations over attempted ones (NaN when none attempted)."""
    return failed / attempted if attempted else math.nan


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span["start"], span["end"]
    return (e - s) - union_length(clip([(c["start"], c["end"]) for c in children], s, e))


def attribute(times, spans):
    """For each time, the id of the innermost span open at that time
    (latest start among the spans that contain it), or None. Valid for
    a single client, where spans nest and never interleave."""
    ordered = sorted(spans, key=lambda sp: sp["start"])
    out = []
    for t in times:
        best = None
        for sp in ordered:
            if sp["start"] > t:
                break
            if sp["end"] >= t:
                best = sp["id"]
        out.append(best)
    return out


# ------------------------------------------------------- checks and gates


def evaluate_checks(record):
    """Apply every correctness gate to the recorded results.

    Returns (failed_op_ids, failures, recall_value, recall_queries).
    Gates: an approximate top-k list holds k distinct in-corpus ids; an
    exact top-k list equals the ground truth, order and ties included;
    radius counts and loaded row counts equal the expected ones; an
    appended vector finds itself at rank 1. Recall is taken over the
    results of timed (`measure`) operations only.
    """
    truth = record.get("truth", {})
    phase = {o["id"]: o["phase"] for o in record.get("ops", [])}
    failed, failures = set(), []
    got, want, ks = [], [], []

    def fail(chk, why):
        failed.add(chk["op"])
        if len(failures) < 20:
            failures.append(f"op {chk['op']} ({chk['kind']}): {why}")

    for chk in record.get("checks", []):
        kind = chk["kind"]
        if kind in ("ann_topk", "exact_topk"):
            k, corpus = chk["k"], chk["corpus"]
            ref = truth[chk["truth"]]
            for qi, ids in zip(chk["qidx"], chk["ids"]):
                t = ref[qi]
                if kind == "exact_topk":
                    if list(ids) != list(t):
                        fail(chk, f"query {qi}: exact top-{k} differs from ground truth")
                elif len(ids) != k or len(set(ids)) != k:
                    fail(chk, f"query {qi}: {len(set(ids))} distinct of {len(ids)}, want {k}")
                elif not all(0 <= i < corpus for i in ids):
                    fail(chk, f"query {qi}: neighbour id outside the corpus")
                if phase.get(chk["op"]) == "measure":
                    got.append(ids)
                    want.append(t)
                    ks.append(k)
        elif kind in ("count", "counts"):
            if chk["expected"] != chk["actual"]:
                fail(chk, f"expected {_short(chk['expected'])}, got {_short(chk['actual'])}")
        elif kind == "self":
            if not chk["ids"] or chk["ids"][0] != chk["expected"]:
                fail(chk, f"vector {chk['expected']} is not its own nearest neighbour")
        else:
            fail(chk, f"unknown check kind {kind}")
    rec = math.nan
    if got:
        rec = sum(recall([g], [w], k) for g, w, k in zip(got, want, ks)) / len(got)
    return failed, failures, rec, len(got)


def _short(v):
    s = str(v)
    return s if len(s) <= 80 else s[:77] + "..."


# ------------------------------------------------------ end-to-end metrics

END_TO_END = {
    "setup_s": "s",
    "throughput": "1/s",
    "latency_p50_ms": "ms",
    "recall": "ratio",
    "stored_bytes_per_vector": "B",
}

# the sample (seconds per operation) each workload's latency is taken from
LATENCY_SAMPLE = {"batch-search": "pass_s.measure", "vector-sql": "round_s"}


def end_to_end(workload, record, recall_value, recall_n):
    """Every end-to-end metric as {name: (value, unit, sample count)}."""
    s = record["samples"]
    v = record["values"]
    out = {}
    setup = s.get("setup_s", [])
    out["setup_s"] = (median(setup), len(setup))
    lat = s.get(LATENCY_SAMPLE[workload], [])
    # items per operation: queries per pass, or distance evaluations of
    # the round's three SQL queries
    items = v["queries_per_pass"] if workload == "batch-search" else 3 * v["distances_per_query"]
    out["throughput"] = (items / median(lat) if lat else math.nan, len(lat))
    out["latency_p50_ms"] = (median(lat) * 1000.0, len(lat))
    out["recall"] = (recall_value, recall_n)
    out["stored_bytes_per_vector"] = (v["stored_bytes"] / v["stored_vectors"], 1)
    return {k: (val, END_TO_END[k], n) for k, (val, n) in out.items()}


# -------------------------------------------------------- per-layer metrics

PER_LAYER = [
    ("ann.build.wall_s", "s"), ("ann.build.driver_only_s", "s"), ("ann.build.jobs", "count"),
    ("ann.build.tasks", "count"), ("ann.build.exec_cpu_s", "s"), ("ann.build.gc_s", "s"),
    ("ann.build.kmeans_stage_s", "s"), ("ann.build.quantize_stage_s", "s"),
    ("ann.build.quantize_busy_cores", "cores"),
    ("ann.route.us_per_query", "us"),
    ("ann.search_all.wall_s", "s"), ("ann.search_all.driver_only_s", "s"),
    ("ann.search_all.exec_cpu_ms_per_query", "ms"), ("ann.search_all.tasks_per_chunk", "count"),
    ("ann.search_all.shuffle_bytes_per_query", "B"), ("ann.search_all.gc_s", "s"),
    ("ann.search.entries_per_query", "count"), ("ann.search.estimates_per_query", "count"),
    ("ann.search.rerank_ratio", "ratio"),
    ("ann.search_call.wall_ms", "ms"), ("ann.search_call.driver_only_ms", "ms"),
    ("ann.search_call.jobs", "count"), ("ann.search_call.tasks", "count"),
    ("ann.search_call.exec_cpu_ms", "ms"), ("ann.search_call.bytes_read", "B"),
    ("ann.save.wall_s", "s"), ("ann.save.bytes_written", "B"), ("ann.load.wall_s", "s"),
    ("ann.append.wall_s", "s"), ("ann.append.jobs", "count"), ("ann.append.write_amp", "ratio"),
    ("ann.compact.wall_s", "s"), ("ann.compact.rewrite_amp", "ratio"),
    ("sql.topk.exec_cpu_ns_per_dist", "ns"), ("sql.range.exec_cpu_ns_per_dist", "ns"),
    ("sql.range.rewrite_fired", "count"), ("ann.exact.exec_cpu_ns_per_dist", "ns"),
    ("spark.session_s", "s"), ("harness.measure_self_s", "s"),
    ("traced.throughput", "1/s"), ("traced.latency_p50_ms", "ms"),
]

_STAGE_SUMS = ("exec_cpu_ns", "bytes_read", "bytes_written", "shuffle_read", "shuffle_write")


class Trace:
    """Spans, jobs and stages of one traced run, with each job given to
    the innermost span open when it was submitted."""

    def __init__(self, values):
        self.spans = {}
        for sp in values.get("spans", []):
            self.spans[sp["id"]] = {
                "id": sp["id"], "name": sp["name"], "parent": sp["parent"],
                "start": sp["start_ns"] / 1e6, "end": sp["end_ns"] / 1e6, "gc_ms": sp["gc_ms"]}
        self.children = defaultdict(list)
        for sp in self.spans.values():
            self.children[sp["parent"]].append(sp)
        stages = {}
        for st in values.get("stages", []):
            stages.setdefault(st["id"], []).append(st)
        self.jobs = []
        for j in values.get("jobs", []):
            if "end_ms" not in j:
                continue
            sts = [a for i in j["stage_ids"] for a in stages.pop(i, [])]
            self.jobs.append({"start": j["submit_ms"], "end": j["end_ms"], "stages": sts})
        owners = attribute([j["start"] for j in self.jobs], list(self.spans.values()))
        self.own = defaultdict(list)
        for j, o in zip(self.jobs, owners):
            self.own[o].append(j)

    def named(self, name, phase=None):
        """Spans called `name`, optionally only inside the phase span `phase`."""
        out = []
        for sp in self.spans.values():
            if sp["name"] != name:
                continue
            if phase is not None and self.phase_of(sp) != phase:
                continue
            out.append(sp)
        return sorted(out, key=lambda sp: sp["start"])

    def phase_of(self, sp):
        while sp["parent"] != -1:
            sp = self.spans[sp["parent"]]
        return sp["name"]

    def subtree_jobs(self, sp):
        out = list(self.own.get(sp["id"], []))
        for c in self.children.get(sp["id"], []):
            out.extend(self.subtree_jobs(c))
        return out

    def stats(self, sp):
        """Inclusive figures for one span: wall, driver-only time (wall
        minus the union of its jobs' intervals), jobs, tasks, stage sums
        and `graft.*` kernel counters."""
        jobs = self.subtree_jobs(sp)
        wall = sp["end"] - sp["start"]
        busy = union_length(clip([(j["start"], j["end"]) for j in jobs], sp["start"], sp["end"]))
        out = {"wall_ms": wall, "driver_only_ms": wall - busy, "jobs": len(jobs),
               "tasks": 0, "gc_ms": sp["gc_ms"], "counters": defaultdict(int),
               "stages": [st for j in jobs for st in j["stages"]]}
        for key in _STAGE_SUMS:
            out[key] = 0
        for st in out["stages"]:
            out["tasks"] += st["tasks"]
            for key in _STAGE_SUMS:
                out[key] += st.get(key, 0)
            for name, val in st.get("counters", {}).items():
                out["counters"][name] += val
        return out


def _med(xs):
    return median(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(record, e2e):
    """Every per-layer metric as {name: (value, unit)}; a layer the
    workload does not enter reads 0."""
    v = record["values"]
    s = record["samples"]
    tr = Trace(v)
    m = {name: 0.0 for name, _ in PER_LAYER}

    builds = [tr.stats(sp) for sp in tr.named("ann.build")]
    if builds:
        m["ann.build.wall_s"] = _med([b["wall_ms"] for b in builds]) / 1e3
        m["ann.build.driver_only_s"] = _med([b["driver_only_ms"] for b in builds]) / 1e3
        m["ann.build.jobs"] = _med([b["jobs"] for b in builds])
        m["ann.build.tasks"] = _med([b["tasks"] for b in builds])
        m["ann.build.exec_cpu_s"] = _med([b["exec_cpu_ns"] for b in builds]) / 1e9
        m["ann.build.gc_s"] = _med([b["gc_ms"] for b in builds]) / 1e3
        km, qz, qz_cpu = [], [], []
        for b in builds:
            k_s, q_s, q_cpu = build_phases(b["stages"])
            km.append(k_s)
            qz.append(q_s)
            qz_cpu.append(_ratio(q_cpu, q_s))
        m["ann.build.kmeans_stage_s"] = _med(km)
        m["ann.build.quantize_stage_s"] = _med(qz)
        m["ann.build.quantize_busy_cores"] = _med(qz_cpu)

    m["ann.route.us_per_query"] = _med(s.get("route_us", []))

    passes = [tr.stats(sp) for sp in tr.named("ann.search_all", "measure")]
    if passes:
        q = v["queries_per_pass"] * len(passes)
        m["ann.search_all.wall_s"] = _med([p["wall_ms"] for p in passes]) / 1e3
        m["ann.search_all.driver_only_s"] = _med([p["driver_only_ms"] for p in passes]) / 1e3
        m["ann.search_all.exec_cpu_ms_per_query"] = sum(p["exec_cpu_ns"] for p in passes) / 1e6 / q
        m["ann.search_all.tasks_per_chunk"] = _ratio(
            sum(p["tasks"] for p in passes), v["chunks_per_pass"] * len(passes))
        m["ann.search_all.shuffle_bytes_per_query"] = sum(p["shuffle_read"] for p in passes) / q
        m["ann.search_all.gc_s"] = _med([p["gc_ms"] for p in passes]) / 1e3

    calls = [tr.stats(sp) for sp in tr.named("ann.search_call")]
    if calls:
        m["ann.search_call.wall_ms"] = _med([c["wall_ms"] for c in calls])
        m["ann.search_call.driver_only_ms"] = _med([c["driver_only_ms"] for c in calls])
        m["ann.search_call.jobs"] = _med([c["jobs"] for c in calls])
        m["ann.search_call.tasks"] = _med([c["tasks"] for c in calls])
        m["ann.search_call.exec_cpu_ms"] = _med([c["exec_cpu_ns"] for c in calls]) / 1e6
        m["ann.search_call.bytes_read"] = _med([c["bytes_read"] for c in calls])

    searched = passes + calls
    n_queries = v.get("queries_per_pass", 0) * len(passes) + len(calls)
    if searched and n_queries:
        cnt = defaultdict(int)
        for p in searched:
            for name, val in p["counters"].items():
                cnt[name] += val
        m["ann.search.entries_per_query"] = cnt["graft.search.entries"] / n_queries
        m["ann.search.estimates_per_query"] = cnt["graft.search.estimates"] / n_queries
        m["ann.search.rerank_ratio"] = _ratio(cnt["graft.search.reranks"],
                                              cnt["graft.search.estimates"])

    saves = [tr.stats(sp) for sp in tr.named("ann.save")]
    if saves:
        m["ann.save.wall_s"] = _med([x["wall_ms"] for x in saves]) / 1e3
        m["ann.save.bytes_written"] = _med([x["bytes_written"] for x in saves])
    loads = [tr.stats(sp) for sp in tr.named("ann.load")]
    if loads:
        m["ann.load.wall_s"] = _med([x["wall_ms"] for x in loads]) / 1e3
    appends = [tr.stats(sp) for sp in tr.named("ann.append")]
    if appends:
        m["ann.append.wall_s"] = _med([x["wall_ms"] for x in appends]) / 1e3
        m["ann.append.jobs"] = _med([x["jobs"] for x in appends])
        raw = v.get("appended_vectors", 0) * v.get("vector_bytes", 0) * len(appends)
        m["ann.append.write_amp"] = _ratio(sum(x["bytes_written"] for x in appends), raw)
    compacts = [tr.stats(sp) for sp in tr.named("ann.compact")]
    if compacts:
        m["ann.compact.wall_s"] = _med([x["wall_ms"] for x in compacts]) / 1e3
        m["ann.compact.rewrite_amp"] = _ratio(
            sum(x["bytes_written"] for x in compacts), v.get("compacted_bytes", 0) * len(compacts))

    dists = v.get("distances_per_query", 0)
    for span_name, metric in (("sql.topk", "sql.topk.exec_cpu_ns_per_dist"),
                              ("sql.range", "sql.range.exec_cpu_ns_per_dist"),
                              ("ann.exact", "ann.exact.exec_cpu_ns_per_dist")):
        runs = [tr.stats(sp) for sp in tr.named(span_name, "measure")]
        if runs and dists:
            m[metric] = sum(r["exec_cpu_ns"] for r in runs) / (dists * len(runs))
    if "range_rewrite_fired" in v:
        m["sql.range.rewrite_fired"] = 1.0 if v["range_rewrite_fired"] else 0.0

    # the timed window's time outside every call into the program
    m["harness.measure_self_s"] = sum(
        self_time(sp, tr.children[sp["id"]]) for sp in tr.named("measure")) / 1e3
    m["spark.session_s"] = v["session_s"]
    m["traced.throughput"] = e2e["throughput"][0]
    m["traced.latency_p50_ms"] = e2e["latency_p50_ms"][0]
    units = dict(PER_LAYER)
    return {name: (val, units[name]) for name, val in m.items()}


def build_phases(stages):
    """Split a build's stages into k-means (MLlib KMeans call sites) and
    everything after the last k-means stage (split probe, quantize,
    layout). Returns (kmeans wall s, post-k-means wall s, post-k-means
    executor CPU s)."""
    stages = sorted(stages, key=lambda st: st["submit_ms"])
    km = [st for st in stages if "KMeans" in st["name"]]
    if not km:
        return 0.0, 0.0, 0.0
    last = max(st["end_ms"] for st in km)
    post = [st for st in stages if st["submit_ms"] >= last]
    k_wall = union_length([(st["submit_ms"], st["end_ms"]) for st in km]) / 1e3
    q_wall = union_length([(st["submit_ms"], st["end_ms"]) for st in post]) / 1e3
    q_cpu = sum(st.get("exec_cpu_ns", 0) for st in post) / 1e9
    return k_wall, q_wall, q_cpu
