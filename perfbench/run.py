#!/usr/bin/env python3
"""Same-host benchmark of pdf_craft_spark.

    python3 perfbench/run.py --workload {backfill,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The run generates its inputs from the
seed, starts one ``local[4]`` Spark session, times closed-loop operations
for ``--seconds``, checks every output against a Spark-free reference
outside the timed window, and prints one line per metric followed by a
JSON result as the last line of standard output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced rounds in the window, then runs the per-layer probes
and reports the per-layer metrics; its spans go to ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

END_TO_END = ("setup_s", "op_s_p50", "op_s_tail", "throughput")

MIX, ARTIFACTS = harness.QUERY_MIX, harness.ARTIFACTS
PER_LAYER = (
    "session.start_s", "memory.peak_rss_mb", "trace.overhead_frac",
    "corpus.gen_s", "corpus.docs", "corpus.pages", "corpus.max_book_pages",
    "corpus.top1pct_page_share",
    "pipeline.scan_s", "pipeline.explode_s", "pipeline.stage1_s", "pipeline.kernel_s",
    "pipeline.scan_partitions", "pipeline.spans_in", "pipeline.f3_dropped",
    "pipeline.spans_out",
    "stage.tasks", "stage.task_max_s", "stage.task_p50_s", "stage.skew", "stage.gc_s",
    "stage.shuffle_read_bytes", "stage.shuffle_write_bytes", "stage.spill_bytes",
    "kernel.py_pages_per_s", "kernel.parse_raw_spans_s", "kernel.prepare_pages_s",
    "kernel.find_toc_pages_s", "kernel.toc_levels_s", "kernel.joint_document_stream_s",
    "kernel.footnotes_s", "kernel.punctuation_s", "kernel.chapter_levels_s",
    "kernel.render_document_s", "kernel.other_s", "kernel.epub_records_s",
    "kernel.spark_core_eff",
    "spark.local4_pages_per_s", "spark.local1_pages_per_s", "spark.scaling_eff",
    "sink.committed_doc_ids_s", "sink.append_spans_s", "sink.read_spans_s",
    "sink.append_manifest_s", "sink.files_total", "sink.bytes_written",
    "checkpoint.self_s", "checkpoint.probe_s", "checkpoint.resume_s",
    "checkpoint.docs_skipped",
    "render.markdown_s", "render.epub_s",
    *(f"queries.{q}_s" for q in MIX),
    *(f"queries.{q}.jobs" for q in MIX),
    *(f"queries.{q}.shuffle_bytes" for q in MIX),
    "artifact.builds",
    *(f"artifact.{a}_s" for a in ARTIFACTS),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(report, w, ops, rss) -> None:
    lat = [op.seconds for op in ops]
    print("# op latencies (s): " + " ".join(f"{op.kind}={op.seconds:.3f}" for op in ops))
    report.put("setup_s", sum(w.setup_parts.values()), "s", 1,
               " + ".join(f"{k} {v:.3f}" for k, v in sorted(w.setup_parts.items())))
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.seconds)
    # with several kinds of operation (the queries of the mix) the median of
    # all latencies falls between kinds and jumps from run to run; the
    # median of each kind, combined by geometric mean, does not
    report.put("op_s_p50", statistics.geometric_mean(
        [statistics.median(v) for v in by_kind.values()]), "s", len(lat),
        f"median per kind of {w.name} operation, geometric mean over {len(by_kind)} kind(s)")
    value, pct, enough = harness.tail(lat)
    report.put("op_s_tail", value, "s", len(lat),
               f"p{pct:g}" + ("" if enough else ", fewer than 10 samples beyond it"))
    report.put("throughput", w.throughput(ops), "1/s", len(lat), f"{w.work_unit} per second")
    report.put("memory.peak_rss_mb", rss.mb, "MB", 1, rss.parts_mb())
    for k, v in w.shape.items():  # printed, not part of the JSON result
        report.put(f"corpus.{k}", v, unit_of(f"corpus.{k}"))


def per_layer(report, w, tracer, ops) -> None:
    """Everything a traced run reports besides its own end-to-end numbers.
    Layers a workload does not exercise read 0."""
    from extraction import Reference, SinkProxy, dir_stats, pipeline_prefixes, render_probe
    from pdf_craft_spark.plans.checkpoint import N_BUCKETS, run_with_resume
    from pdf_craft_spark.plans.sinks import ParquetBucketSink
    from workloads import round_times

    L = dict.fromkeys(PER_LAYER, 0.0)
    L["session.start_s"] = w.setup_parts["session_s"]
    L["trace.overhead_frac"] = (
        statistics.median(round_times(ops, True)) / statistics.median(round_times(ops, False)) - 1
    )
    traced = [o for o in ops if o.traced]
    L.update(w.stage_layers(traced))
    if w.name == "queries":
        for q in MIX:
            runs = [o for o in traced if o.kind == q]
            stats = [w.stats[o.group] for o in runs]
            L[f"queries.{q}_s"] = statistics.median([o.seconds for o in runs])
            L[f"queries.{q}.jobs"] = statistics.median([s["jobs"] for s in stats])
            L[f"queries.{q}.shuffle_bytes"] = statistics.median(
                [s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in stats])
        L["artifact.builds"] = w.artifacts.builds
        for a in ARTIFACTS:
            L[f"artifact.{a}_s"] = tracer.self_times().get(f"artifact.{a}", 0.0)

    # the extraction layers, on this workload's documents
    path = w.probe_path()
    tracer.trace_id = "kernel"
    ref = Reference(w.probe_docs(), tracer=tracer)
    kernel = tracer.self_times("kernel")
    for name in PER_LAYER:
        if name.startswith("kernel.") and name.endswith("_s"):
            L[name] = kernel.get(name[:-2], 0.0)
    L["kernel.py_pages_per_s"] = ref.pages / ref.seconds
    L["kernel.other_s"] = kernel.get("kernel.extract_document", 0.0)
    L.update({f"corpus.{k}": v for k, v in w.shape.items()})
    L["corpus.gen_s"] = w.setup_parts["gen_s"]
    L.update(pipeline_prefixes(w.spark, path))  # also warms the extraction path

    # one job through a traced sink, then the same job again over its own
    # committed output: the resume path skips every doc
    out = harness.data_dir("probe-out")
    runs = {}
    for run_id in ("probe", "resume"):
        tracer.trace_id = run_id
        with tracer.span(f"checkpoint.{run_id}"):
            runs[run_id], L[f"checkpoint.{run_id}_s"] = harness.timed(
                run_with_resume, w.spark, w.spark.read.parquet(path), out, run_id,
                sink=SinkProxy(ParquetBucketSink(out, N_BUCKETS), tracer))
    probe = tracer.self_times("probe")
    for m in ("committed_doc_ids", "append_spans", "read_spans", "append_manifest"):
        L[f"sink.{m}_s"] = probe.get(f"sink.{m}", 0.0)
    L["checkpoint.self_s"] = probe.get("checkpoint.probe", 0.0)
    L["checkpoint.docs_skipped"] = w.shape["docs"] - (
        runs["resume"]["total_docs_committed"] - runs["probe"]["total_docs_committed"])
    L["sink.files_total"], L["sink.bytes_written"] = dir_stats(out)
    L.update(render_probe(w.spark, path, harness.data_dir("render")))
    L.update(w.scaling(path, L["kernel.py_pages_per_s"]))
    for name in PER_LAYER:
        report.put(name, L[name], unit_of(name))


def unit_of(name: str) -> str:
    if name.endswith("pages_per_s"):
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_eff", "_share", "_frac", "skew")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, harness.ROOT)
    if importlib.util.find_spec("pdf_craft_spark") is None:
        print(f"perfbench: no pdf_craft_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    harness.prepare_env()
    from tracing import Tracer
    from workloads import WORKLOADS

    report = harness.Report()
    w = WORKLOADS[args.workload](args.seed)
    tracer = Tracer() if args.trace else None
    try:
        with harness.PeakRss() as rss:
            w.setup(tracer)
            ops = w.measure(args.seconds, tracer)
            w.check(report)
            if not args.trace:
                rss.sample()
                end_to_end(report, w, ops, rss)
                names = END_TO_END
            else:
                per_layer(report, w, tracer, ops)
                rss.sample()
                report.put("memory.peak_rss_mb", rss.mb, "MB")
                names = PER_LAYER
                harness.write_json(
                    os.path.join(harness.TRACES, f"{args.workload}-{args.seed}.json"),
                    tracer.dump())
        for err in w.errors:
            report.fail(err)
        report.attempted = len(w.ops)
        report.failed = sum(op.failed for op in w.ops)
        result = report.emit(list(names))
    finally:
        w.stop()
        harness.stop_jvm()
        harness.cleanup()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"# wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
