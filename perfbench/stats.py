"""Metric arithmetic for the benchmark: percentiles, span self time and the
end-to-end and per-layer metrics computed from one run's raw record.

The JVM side (src/main/scala/perfbench) records facts: timed operations,
set-up times, bulk steps, samples, spans and listener stage records. This
module turns them into the metrics BENCHMARK.json names.
"""

import statistics

# Primary and secondary operation of each workload: op_p50_ms/op_tail_ms
# describe the primary one, op2_p50_ms the secondary one. The battery's
# slots are mapped in end_to_end.
OPS = {
    "extract": ("extract", "extract_resume"),
    "ingest-query": ("query", "expanded"),
    "upload-query": ("query", "upload"),
    "battery": ("battery", "pass"),
}

# the battery subset (BatteryWorkload.Subset), one per-layer time each
BATTERY = [
    "q_nation_volume", "q_bm25_docs", "q_minhash_lsh", "q_tfidf_keywords",
    "q_common_substring", "q_kmeans",
]
FAMILIES = ["relational", "retrieval", "training_data", "curation", "scale"]


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). Below twenty samples that percentile
    would be the median or lower, so the maximum is returned instead, with
    percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return float(s[-1]), 100.0, n
    k = n - 11  # s[k] has exactly ten samples above it
    return float(s[k]), 100.0 * (k + 1) / n, n


def union_ms(intervals):
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
    """Self time of each span: its duration minus the part of that interval
    its child spans cover. Returns {span id: ms}."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s0, e0 = sp["start_ms"], sp["end_ms"]
        covered = union_ms(
            (max(c["start_ms"], s0), min(c["end_ms"], e0))
            for c in children.get(sp["id"], [])
            if c["end_ms"] > s0 and c["start_ms"] < e0)
        out[sp["id"]] = (e0 - s0) - covered
    return out


def span_tree(spans):
    """Nested {name, ms, self_ms, children} per root span, for the artifact."""
    selfs = self_times(spans)
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)

    def node(sp):
        return {"name": sp["name"], "trace": sp["trace"],
                "ms": sp["end_ms"] - sp["start_ms"], "self_ms": selfs[sp["id"]],
                "attrs": sp.get("attrs", {}),
                "children": [node(c) for c in sorted(kids.get(sp["id"], []),
                                                      key=lambda c: c["start_ms"])]}
    return [node(sp) for sp in sorted(kids.get(0, []), key=lambda s: s["start_ms"])]


def ok_ms(raw, kind, traced=None):
    return [o["ms"] for o in raw["ops"] if o["kind"] == kind and o["ok"]
            and (traced is None or o["traced"] == traced)]


def op_samples(raw, kind):
    if kind == "pass":
        return raw["samples"].get("battery.pass_ms", [])
    return ok_ms(raw, kind)


def end_to_end(raw, peak_rss_mb):
    """The end-to-end metrics of an untraced run, with sample details.

    The battery fills the slots with four quantities that can move apart: a
    warm pass splits into its text-bound queries (`rate_per_s`, documents
    per second) and the rest (`op_p50_ms`); `op_tail_ms` is the tail of the
    single warm query times; `op2_p50_ms` is the whole pass (`battery_s`).
    """
    primary, secondary = OPS[raw["workload"]]
    q = op_samples(raw, secondary)
    t, pct, n = tail(ok_ms(raw, primary))
    if raw["workload"] == "battery":
        samp = raw["samples"]
        docs = raw["info"]["text_docs"]
        rates = [docs * 1000.0 / ms for ms in samp.get("battery.text_ms", []) if ms > 0]
        p = samp.get("battery.table_ms", [])
        kinds = ["text-bound queries", "other queries", "battery"]
    else:
        rates = [b["items"] / b["seconds"] for b in raw["bulk"] if b["seconds"] > 0]
        p = ok_ms(raw, primary)
        kinds = [",".join(sorted({b["kind"] for b in raw["bulk"]})), primary, secondary]
    metrics = {
        "setup_s": (median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
        "rate_per_s": (median(rates), "1/s", len(rates)),
        "op_p50_ms": (median(p), "ms", len(p)),
        "op_tail_ms": (t, "ms", n),
        "op2_p50_ms": (median(q), "ms", len(q)),
    }
    details = {"op_tail_percentile": pct, "op_tail_samples": n,
               "op_kinds": {"rate_per_s": kinds[0], "op_p50_ms": kinds[1],
                            "op_tail_ms": primary, "op2_p50_ms": kinds[2]}}
    return metrics, details


class Trace:
    """Spans, jobs and stages of a traced run, indexed for attribution."""

    def __init__(self, raw):
        self.spans = {s["id"]: s for s in raw["spans"]}
        self.jobs = raw["jobs"]
        self.stages = raw["stages"]

    def root(self, sid):
        while sid in self.spans and self.spans[sid]["parent"] != 0:
            sid = self.spans[sid]["parent"]
        return self.spans.get(sid)

    def named(self, name, root_kinds=None):
        out = []
        for s in self.spans.values():
            if s["name"] != name:
                continue
            r = self.root(s["id"])
            if root_kinds is None or (r and r["name"] in {f"op/{k}" for k in root_kinds}):
                out.append(s)
        return out

    def under(self, sid):
        """Ids of span `sid` and all its descendants."""
        ids, frontier = {sid}, [sid]
        while frontier:
            cur = frontier.pop()
            for s in self.spans.values():
                if s["parent"] == cur and s["id"] not in ids:
                    ids.add(s["id"])
                    frontier.append(s["id"])
        return ids

    def stages_of(self, spans):
        ids = set()
        for s in spans:
            ids |= self.under(s["id"])
        return [st for st in self.stages if st["span"] in ids]

    def jobs_of(self, spans):
        ids = set()
        for s in spans:
            ids |= self.under(s["id"])
        return [j for j in self.jobs if j["span"] in ids]

    def driver_only_ms(self, span):
        """Span wall time during which none of its stages was running."""
        st = self.stages_of([span])
        covered = union_ms((max(x["submit_ms"], span["start_ms"]),
                            min(x["done_ms"], span["end_ms"]))
                           for x in st if x["done_ms"] > x["submit_ms"])
        return (span["end_ms"] - span["start_ms"]) - covered

    def plan_ms(self, span):
        """Span wall time not covered by any of its jobs."""
        jb = self.jobs_of([span])
        covered = union_ms((max(j["start_ms"], span["start_ms"]),
                            min(j["end_ms"], span["end_ms"])) for j in jb)
        return (span["end_ms"] - span["start_ms"]) - covered


def skew(stages):
    """Maximum over stages of max/median task run time, and its stage."""
    best, at = 0.0, None
    for st in stages:
        if st["task_median_ms"] > 0 and st["tasks"] > 1:
            r = st["task_max_ms"] / st["task_median_ms"]
            if r > best:
                best, at = r, st
    return best, at


def dur(s):
    return s["end_ms"] - s["start_ms"]


def per_layer(raw):
    """The per-layer metrics of a traced run. A layer the workload does not
    call reports 0."""
    tr = Trace(raw)
    layer = dict(raw["layer"])
    samp = raw["samples"]
    m = {}
    details = {}

    # extract.* and text.*: single-thread kernel timings over a seeded sample
    for k in ["sniff_ns_per_turn", "plain_ns_per_turn", "html_ns_per_turn",
              "pdf_ns_per_turn", "turns_plain", "turns_html", "turns_pdf",
              "kept_ratio", "chars_per_turn"]:
        m[f"extract.{k}"] = layer.get(f"extract.{k}", 0.0)
    for k in ["chunk_ns_per_turn", "chunks_per_turn"]:
        m[f"text.{k}"] = layer.get(f"text.{k}", 0.0)

    # pipeline.extraction.*: the job at full parallelism (extract) or the
    # staging extraction of each upload (upload-query)
    ex = tr.named("pipeline.extraction/run", root_kinds=["extract", "upload"])
    n = len(ex) or 1
    st = tr.stages_of(ex)
    turns = sum(s["attrs"].get("turns", 0.0) for s in ex) or 1.0
    busy_s = sum(x["run_ms"] for x in st) / 1e3 / n
    m["pipeline.extraction.job_s"] = median([dur(s) for s in ex]) / 1e3
    m["pipeline.extraction.task_busy_s"] = busy_s
    m["pipeline.extraction.task_cpu_s"] = sum(x["cpu_ns"] for x in st) / 1e9 / n
    m["pipeline.extraction.gc_s"] = sum(x["gc_ms"] for x in st) / 1e3 / n
    m["pipeline.extraction.task_wait_s"] = sum(x["wait_ms"] for x in st) / 1e3 / n
    m["pipeline.extraction.driver_only_s"] = median([tr.driver_only_ms(s) for s in ex]) / 1e3
    m["pipeline.extraction.shuffle_write_bytes_per_turn"] = sum(x["shuffle_write"] for x in st) / turns
    m["pipeline.extraction.shuffle_read_bytes_per_turn"] = sum(x["shuffle_read"] for x in st) / turns
    m["pipeline.extraction.spill_bytes"] = sum(x["spill"] for x in st) / n
    m["pipeline.extraction.output_bytes_per_turn"] = layer.get(
        "pipeline.extraction.output_bytes_per_turn",
        median(samp.get("pipeline.extraction.output_bytes_per_turn", [])))
    m["pipeline.extraction.output_files"] = layer.get(
        "pipeline.extraction.output_files",
        median(samp.get("pipeline.extraction.output_files", [])))
    m["pipeline.extraction.stages"] = len(st) / n
    m["pipeline.extraction.tasks"] = sum(x["tasks"] for x in st) / n
    m["pipeline.extraction.task_skew"] = skew(st)[0]
    kinds = [("plain", layer.get("extract.turns_plain", 0.0)),
             ("html", layer.get("extract.turns_html", 0.0)),
             ("pdf", layer.get("extract.turns_pdf", 0.0))]
    sampled = sum(c for _, c in kinds)
    kernel_ns = (sum(layer.get(f"extract.{k}_ns_per_turn", 0.0) * c for k, c in kinds) / sampled
                 + layer.get("text.chunk_ns_per_turn", 0.0)) if sampled else 0.0
    m["pipeline.extraction.extract_share"] = (
        kernel_ns * turns / n / (busy_s * 1e9) if ex and busy_s > 0 else 0.0)
    m["pipeline.extraction.scaling_eff"] = median(samp.get("extract.scaling_eff", []))

    # pipeline.ingestion.*
    ing = tr.named("pipeline.ingestion/run")
    ni = len(ing) or 1
    sti = tr.stages_of(ing)
    chunks = layer.get("pipeline.ingestion.chunks", 0.0)
    m["pipeline.ingestion.embed_s"] = median([dur(s) for s in tr.named("pipeline.ingestion/embedChunks")]) / 1e3
    m["pipeline.ingestion.bm25_build_s"] = median([dur(s) for s in tr.named("pipeline.ingestion/buildIndex")]) / 1e3
    m["pipeline.ingestion.embed_ns_per_chunk"] = layer.get("pipeline.ingestion.embed_ns_per_chunk", 0.0)
    m["pipeline.ingestion.chunks"] = chunks
    m["pipeline.ingestion.postings_rows"] = layer.get("pipeline.ingestion.postings_rows", 0.0)
    m["pipeline.ingestion.shuffle_write_bytes_per_chunk"] = (
        sum(x["shuffle_write"] for x in sti) / ni / chunks if ing and chunks else 0.0)
    m["pipeline.ingestion.spill_bytes"] = sum(x["spill"] for x in sti) / ni
    m["pipeline.ingestion.task_busy_s"] = sum(x["run_ms"] for x in sti) / 1e3 / ni
    # only upload-query calls Ingestion.add, and it is not in BENCHMARK.json
    details["pipeline.ingestion.add_s"] = median(
        [dur(s) for s in tr.named("pipeline.ingestion/add")]) / 1e3

    # retrieval.*: traced `query` operations and the pieces timed after each
    qops = [s for s in tr.spans.values() if s["name"] == "op/query"]
    nq = len(qops) or 1
    stq = tr.stages_of(qops)
    for k in ["bm25_ms", "vector_ms", "fuse_ms", "content_ms"]:
        m[f"retrieval.{k}"] = median(samp.get(f"retrieval.{k}", []))
    traced_q = median([dur(s) for s in qops])
    pieces = sum(m[f"retrieval.{k}"] for k in ["bm25_ms", "vector_ms", "fuse_ms", "content_ms"])
    m["retrieval.layer_sum_ratio"] = pieces / traced_q if traced_q > 0 else 0.0
    m["retrieval.jobs_per_query"] = len(tr.jobs_of(qops)) / nq
    m["retrieval.tasks_per_query"] = sum(x["tasks"] for x in stq) / nq
    rows = sum(s["attrs"].get("rows", 0.0) for s in tr.spans.values()
               if s["name"] == "retrieval/query")
    m["retrieval.rows_read_per_result"] = (
        sum(x["input_records"] for x in stq) / rows if rows else 0.0)
    m["retrieval.bytes_read_per_query"] = sum(x["input_bytes"] for x in stq) / nq
    m["retrieval.shuffle_bytes_per_query"] = sum(x["shuffle_write"] for x in stq) / nq
    m["retrieval.plan_ms"] = median([tr.plan_ms(s) for s in qops])
    m["retrieval.index_files"] = layer.get("retrieval.index_files", 0.0)
    m["retrieval.expanded_p50_ms"] = median(ok_ms(raw, "expanded"))

    # queries.*: the battery subset
    fam = raw["info"].get("families", {})
    per_q = {q: median(samp.get(f"queries.{q}", [])) for q in fam}
    for f in FAMILIES:
        m[f"queries.{f}_s"] = sum(v for q, v in per_q.items() if fam[q] == f) / 1e3
    for q in BATTERY:
        m[f"queries.{q}_s"] = per_q.get(q, 0.0) / 1e3
    bq = [s for s in tr.spans.values() if s["name"].startswith("queries/")]
    traced_passes = max(1, len(bq) / max(1, len(fam)))
    stb = tr.stages_of(bq)
    m["queries.stages"] = len(stb) / traced_passes
    m["queries.shuffle_bytes"] = sum(x["shuffle_write"] for x in stb) / traced_passes
    m["queries.spill_bytes"] = sum(x["spill"] for x in stb) / traced_passes
    sk, at = skew(stb)
    m["queries.max_task_skew"] = sk
    if at is not None:
        details["queries.max_task_skew_query"] = tr.spans[at["span"]]["name"].split("/", 1)[1]
    m["queries.driver_only_s"] = sum(tr.driver_only_ms(s) for s in bq) / 1e3 / traced_passes

    # the run itself
    ops = raw["ops"]
    m["run.failed_share"] = sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0
    primary = OPS[raw["workload"]][0]
    on, off = median(ok_ms(raw, primary, True)), median(ok_ms(raw, primary, False))
    m["run.trace_overhead_ratio"] = on / off - 1.0 if on and off else 0.0
    details["trace_overhead_basis"] = {"kind": primary, "traced_p50_ms": on,
                                       "untraced_p50_ms": off}
    return m, details
