"""Metrics of one benchmark run, derived from the raw JSON the JVM harness
writes: samples, spans and Spark stage records. Pure functions only, so
they can be unit-tested without Spark."""
import json
import math
import statistics
from pathlib import Path

BENCHMARK_JSON = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def metric_units(kind):
    """name -> unit of the `end_to_end` or `per_layer` metrics, in the
    order BENCHMARK.json lists them."""
    bench = json.loads(BENCHMARK_JSON.read_text())
    return {m["name"]: m["unit"] for m in bench[kind]}


PIPELINE_OPS = ["dedup", "minhash", "keywords", "dup_spans", "contamination",
                "lm_quality", "ivf"]

# source file of a stage's call site -> the repository layer it belongs to
LAYER_OF_FILE = {
    "Analyzer.scala": "analysis",
    "IntBlockCodec.scala": "codec",
    "IndexBuilder.scala": "index",
    "Maintenance.scala": "index",
    "SegmentFormat.scala": "index",
    "IndexSearcher.scala": "search",
    "SegmentSearch.scala": "search",
    "StreamingIndexer.scala": "streaming",
    "StreamOps.scala": "streaming",
    "Dedup.scala": "pipeline",
    "TextOps.scala": "pipeline",
    "Ann.scala": "pipeline",
}


# ---- percentiles -------------------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """Samples that lie strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def reported_percentile(values, p, min_beyond=10):
    """`percentile`, refusing a percentile with fewer than `min_beyond`
    samples beyond it."""
    if beyond(len(values), p) < min_beyond:
        raise ValueError(f"p{p} of {len(values)} samples has fewer than "
                         f"{min_beyond} samples beyond it")
    return percentile(values, p)


# ---- spans -------------------------------------------------------------------

def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        a = max(a, end)
        total += b - a
        end = b
    return total


def self_times(spans):
    """span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def callsite_layer(stage_name, span_layer):
    """Layer of a Spark stage from its call site (`<op> at <File>.scala:<line>`);
    stages whose call site is outside the library take the layer of the
    span that launched them."""
    _, _, site = stage_name.rpartition(" at ")
    return LAYER_OF_FILE.get(site.split(":")[0], span_layer)


# ---- joining Spark records to spans -------------------------------------------

def jobs_by_span(raw):
    """span id -> its jobs, each with its stages, in start order."""
    out = {}
    for ctx in raw.get("contexts", []):
        stages = {}
        for st in ctx["stages"]:
            stages.setdefault(st["job"], []).append(st)
        for job in ctx["jobs"]:
            g = job["group"]
            if not g.startswith("span-"):
                continue
            j = dict(job, stages=sorted(stages.get(job["job"], []), key=lambda s: s["stage"]))
            out.setdefault(int(g[5:]), []).append(j)
    for jobs in out.values():
        jobs.sort(key=lambda j: j["start_ms"])
    return out


def spans_named(raw, name):
    return [s for s in raw.get("spans", []) if s["name"] == name]


def median_or_zero(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def skew(task_ms):
    ts = [t for t in task_ms if t > 0] or task_ms
    if not ts:
        return 0.0
    return max(ts) / max(statistics.median(ts), 1e-9)


def ran(stage):
    return stage["tasks"] > 0


def build_phases(span, jobs):
    """Split one `IndexBuilder.build` call into phases that add up to its
    wall time. Its jobs, in start order: the url sort and the rank scan
    (up to the first `collect at IndexBuilder`) are `rank`; under AQE the
    two map sides of the id join then run as jobs of their own (`join`);
    jobs whose stages write parquet write the docmap (`docmap`). In the
    last job, the final stage inverts and writes segments (`invert`) and
    the stages before it are the join's reduce side and the map side of
    the doc shuffle (`join`). Each job owns the time from the end of
    everything before it to its own end, so driver time between jobs goes
    to the job it leads to; time after the last job is `commit`."""
    out = {"rank": 0.0, "join": 0.0, "invert": 0.0, "docmap": 0.0, "commit": 0.0}
    if not jobs:
        return out
    last = jobs[-1]
    result = [s for s in last["stages"] if ran(s)][-1]
    kinds, ranked = [], False
    for j in jobs[:-1]:
        names = [s["name"] for s in j["stages"]]
        if any(n.startswith("parquet at IndexBuilder") for n in names):
            kinds.append("docmap")
        elif ranked:
            kinds.append("join")
        else:
            kinds.append("rank")
            ranked = any(n.startswith("collect at IndexBuilder") for n in names)
    kinds += ["join", "invert"]
    ends = [j["end_ms"] for j in jobs[:-1]] + [result["submit_ms"], last["end_ms"]]
    done = span["start_ms"]
    for kind, end in zip(kinds, ends):
        if end > done:
            out[kind] += (end - done) / 1e3
            done = end
    out["commit"] = (span["end_ms"] - done) / 1e3
    return out


def stages_of(jobs):
    return [s for j in jobs for s in j["stages"] if ran(s)]


def index_metrics(raw, by_span, cores):
    """Phase split and Spark health of the full-width builds (the
    `local[1]` builds that alternate with them are left out)."""
    parents = {s["id"]: s["name"] for s in raw.get("spans", [])}
    rows = []
    for sp in spans_named(raw, "IndexBuilder.build"):
        jobs = by_span.get(sp["id"], [])
        sts = stages_of(jobs)
        if parents.get(sp["parent"]) != f"build.round.{cores}" or not sts:
            continue
        wall = (sp["end_ms"] - sp["start_ms"]) / 1e3
        run_ms = sum(s["run_ms"] for s in sts)
        invert = [s for s in jobs[-1]["stages"] if ran(s)][-1]
        rows.append(dict(build_phases(sp, jobs),
                         shuffle_write=sum(s["shuffle_write_bytes"] for s in sts),
                         shuffle_read=sum(s["shuffle_read_bytes"] for s in sts),
                         spill=sum(s["spill_bytes"] for s in sts),
                         task_skew=skew(invert["task_ms"]),
                         cpu_util=sum(s["cpu_ms"] for s in sts) / 1e3 / (wall * cores),
                         gc_frac=sum(s["gc_ms"] for s in sts) / max(run_ms, 1),
                         jobs=len(jobs)))
    m = {}
    for key, name in [("rank", "index.rank_s"), ("join", "index.join_s"),
                      ("invert", "index.invert_s"), ("docmap", "index.docmap_s"),
                      ("commit", "index.commit_s"),
                      ("shuffle_write", "index.shuffle_write_bytes"),
                      ("shuffle_read", "index.shuffle_read_bytes"),
                      ("spill", "index.spill_bytes"), ("task_skew", "index.task_skew"),
                      ("cpu_util", "index.cpu_util"), ("gc_frac", "index.gc_frac"),
                      ("jobs", "index.jobs_per_build")]:
        m[name] = median_or_zero(r[key] for r in rows)
    return m


def search_metrics(by_span, spans):
    rows = []
    for sp in spans:
        jobs = by_span.get(sp["id"], [])
        if not jobs:
            continue
        last = jobs[-1]
        score_stages = [s for s in last["stages"] if ran(s)]
        sts = stages_of(jobs)
        tasks = sum(s["tasks"] for s in sts)
        rows.append({
            "search.df_s": sum(j["end_ms"] - j["start_ms"] for j in jobs[:-1]) / 1e3,
            "search.score_s": (last["end_ms"] - last["start_ms"]) / 1e3,
            "search.merge_s": (sp["end_ms"] - last["end_ms"]) / 1e3,
            "search.task_launch_ms": sum(s["sched_ms"] + s["deser_ms"] for s in sts) / max(tasks, 1),
            "search.result_bytes": sum(s["result_bytes"] for s in score_stages),
            "search.jobs_per_batch": len(jobs),
            "search.task_skew": skew([t for s in score_stages for t in s["task_ms"]]),
        })
    return {k: median_or_zero(r[k] for r in rows) for k in
            ["search.df_s", "search.score_s", "search.merge_s", "search.task_launch_ms",
             "search.result_bytes", "search.jobs_per_batch", "search.task_skew"]}


def span_ms(spans):
    return [s["end_ms"] - s["start_ms"] for s in spans]


def unattributed_frac(spans):
    """Share of the traced rounds' wall time (the `bench` root spans) that no
    layer span covers."""
    selfs = self_times(spans)
    roots = [s for s in spans if s["layer"] == "bench"]
    return sum(selfs[s["id"]] for s in roots) / \
        max(sum(s["end_ms"] - s["start_ms"] for s in roots), 1e-9)


def overhead(samples):
    """Traced over untraced round time, summed over phases, minus one."""
    traced = plain = 0.0
    for key, xs in samples.items():
        if key.startswith("round.") and key.endswith(".traced"):
            other = samples.get(key[:-len("traced")] + "plain")
            if xs and other:
                traced += statistics.median(xs)
                plain += statistics.median(other)
    return traced / plain - 1 if plain else 0.0


def per_layer(raw):
    v, smp = raw["values"], raw["samples"]
    spans = raw.get("spans", [])
    by_span = jobs_by_span(raw)
    cores = int(v.get("cores", 1))
    m = dict(v)  # the layer probes' values
    m.update(index_metrics(raw, by_span, cores))
    t1, tn = smp.get("build.s_1", []), smp.get(f"build.s_{cores}", [])
    m["index.scaling_eff_1to4"] = (statistics.median(t1) / statistics.median(tn)) / cores \
        if t1 and tn else 0.0
    m["index.compact_ms"] = median_or_zero(span_ms(spans_named(raw, "Maintenance.compact")))
    m["index.compact_bytes_rewritten"] = median_or_zero(smp.get("ingest.compact_bytes_rewritten", []))
    m["index.segments_live"] = median_or_zero(smp.get("ingest.segments_live", []))
    m.update(search_metrics(by_span, spans_named(raw, "IndexSearcher.searchBatch")))
    m["search.single_p50_ms"] = reported_percentile(smp["query.search_ms"], 50)
    m["search.single_p90_ms"] = reported_percentile(smp["query.search_ms"], 90)
    m["streaming.ingest_docs_per_s"] = sum(smp["ingest.docs"]) / sum(smp["ingest.loop_s"])
    m["streaming.refresh_p50_ms"] = statistics.median(smp["ingest.refresh_ms"])
    m["search.single_jobs_per_query"] = median_or_zero(
        len(by_span.get(s["id"], [])) for s in spans_named(raw, "IndexSearcher.search"))
    m["streaming.append_ms"] = median_or_zero(span_ms(spans_named(raw, "StreamingIndexer.appendBatch")))
    m["streaming.update_ms"] = median_or_zero(span_ms(spans_named(raw, "StreamingIndexer.updateDocuments")))
    m["streaming.delete_ms"] = median_or_zero(span_ms(spans_named(raw, "IndexSearcher.deleteDocs")))
    for op in PIPELINE_OPS:
        ops = spans_named(raw, f"pipeline.{op}")
        m[f"pipeline.{op}_s"] = median_or_zero(x / 1e3 for x in span_ms(ops))
        m[f"pipeline.{op}_jobs"] = median_or_zero(len(by_span.get(s["id"], [])) for s in ops)
        m[f"pipeline.{op}_shuffle_bytes"] = median_or_zero(
            sum(st["shuffle_write_bytes"] for st in stages_of(by_span.get(s["id"], [])))
            for s in ops)
    m["pipeline.suite_s"] = median_or_zero(smp.get("curate.suite_s", []))
    m["trace.unattributed_frac"] = unattributed_frac(spans)
    m["trace.overhead_frac"] = overhead(smp)
    return m


def layer_table(raw):
    """Per layer: span self time, and the Spark executor time and task
    count of the stages launched under that layer's spans."""
    spans = raw.get("spans", [])
    selfs = self_times(spans)
    by_span = jobs_by_span(raw)
    layer_of = {s["id"]: s["layer"] for s in spans}
    table = {}
    for s in spans:
        row = table.setdefault(s["layer"], {"self_s": 0.0, "calls": 0, "executor_s": 0.0,
                                            "tasks": 0})
        row["self_s"] += selfs[s["id"]] / 1e3
        row["calls"] += 1
    for sid, jobs in by_span.items():
        for st in stages_of(jobs):
            row = table.setdefault(callsite_layer(st["name"], layer_of.get(sid, "bench")),
                                   {"self_s": 0.0, "calls": 0, "executor_s": 0.0, "tasks": 0})
            row["executor_s"] += st["run_ms"] / 1e3
            row["tasks"] += st["tasks"]
    return table


# ---- end to end --------------------------------------------------------------

def end_to_end(raw):
    v, smp = raw["values"], raw["samples"]
    cores = int(v["cores"])
    docs = v["build.docs"]
    return {
        # set-up repeats, warm-up runs once per run
        "setup_s": statistics.median(smp["setup.rep_s"]) + sum(smp["setup.warmup_s"]),
        "build_docs_per_s": docs / statistics.median(smp[f"build.s_{cores}"]),
        "build_docs_per_s_1core": docs / statistics.median(smp["build.s_1"]),
        "index_bytes_per_doc": statistics.median(smp["build.bytes"]) / docs,
        "query_qps": v["query.batch_size"] / statistics.median(smp["query.batch_s"]),
        "heap_retained_mb": max(smp["heap_retained_mb"]),
    }


def result_line(raw):
    """The result line: every metric BENCHMARK.json lists for this kind of
    run, in its order, with its unit."""
    computed = per_layer(raw) if raw["trace"] else end_to_end(raw)
    units = metric_units("per_layer" if raw["trace"] else "end_to_end")
    missing = [k for k in units if k not in computed]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")
    failed = int(raw["failed"])
    return {
        "correct": failed == 0,
        "attempted": int(raw["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": float(computed[k]), "unit": u} for k, u in units.items()},
    }
