"""One benchmark run inside a fresh Spark process.

    python3 -m perfbench.worker <spec.json> <result.json>

Sets up once, cold: the imports, the session start that launches the
JVM, input registration and a warm-up scan. The first run_extraction of
the process is not timed. An untraced run then makes one more untimed
call and times run_extraction on a fresh output directory (holding a copy of the base commit, if any) until
at least the spec's min_calls calls and the run's seconds are done. A
traced run times one call and each layer instead (see traced_layers and
README.md), then reads this process's Spark event log. Every output is
checked.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

from perfbench import checks, queries
from perfbench.inputs import load_goldens
from perfbench.trace import (Tracer, busiest_stage, in_window,
                             read_event_log, spark_totals)

RUN_PARTITIONS = 32  # run_extraction's default num_partitions
SPLIT_CONF = "spark.sql.files.maxPartitionBytes"
CORPUS_STAGES = ("extract", "clean", "gate", "classify", "dedup_para",
                 "dedup_doc", "split", "pack")
ERR_REASONS = ("empty_payload", "truncated_pdf", "invalid_utf8",
               "encrypted_password_protected")


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _identity(batches):
    yield from batches


def warm_up(pages) -> None:
    """Lists and scans the registered input once, to a noop sink."""
    pages.write.format("noop").mode("overwrite").save()


def kernel_layer(files: list[str]) -> tuple[dict, dict]:
    """decode_payload single-core over the given pages files."""
    import pyarrow.parquet as pq

    from pdf_extract_spark.kernels.decode import decode_payload

    us = {"html": [], "pdf": []}
    errs: dict[str, int] = {}
    text_bytes = 0
    for path in files:
        for p in pq.read_table(path, columns=["html"]).column("html") \
                .to_pylist():
            p = p or b""
            t0 = time.perf_counter_ns()
            text, err = decode_payload(p)
            dt = (time.perf_counter_ns() - t0) / 1e3
            us["pdf" if p[:5] == b"%PDF-" else "html"].append(dt)
            if err is not None:
                errs[err] = errs.get(err, 0) + 1
            else:
                text_bytes += len(text.encode("utf-8"))
    alls = sorted(us["html"] + us["pdf"])
    total = sum(alls)
    k = "kernels."
    m = {
        k + "decode_us_per_doc": total / len(alls),
        k + "decode_us_p50": statistics.median(alls),
        k + "decode_us_p999": alls[min(len(alls) - 1, int(0.999 * len(alls)))],
        k + "html_us_per_doc": statistics.fmean(us["html"]),
        k + "pdf_us_per_doc": statistics.fmean(us["pdf"]),
        k + "html_share": sum(us["html"]) / total,
        k + "docs_html": len(us["html"]),
        k + "docs_pdf": len(us["pdf"]),
        k + "docs_err": sum(errs.values()),
        k + "text_bytes_out": text_bytes,
    }
    m.update({f"{k}err.{r}": errs.get(r, 0) for r in ERR_REASONS})
    return m, errs


def ladder_layer(spark, tr: Tracer, files: list[str]) -> dict:
    """Prefix plans of the extract operator, each to a noop sink. The
    tasks step decodes over the run's partition count with no exchange:
    the scan's splits are sized to give that many tasks."""
    from pdf_extract_spark.operators.extract import extract_text

    pages = spark.read.parquet(*files)
    cols = pages.select("url", "warc_ts", "html", "lang")
    steps = (("scan", cols),
             ("handoff", cols.mapInPandas(_identity, schema=cols.schema)),
             ("decode", extract_text(pages)),
             ("tasks", None),
             ("shuffle", extract_text(pages, num_partitions=RUN_PARTITIONS)))
    split = -(-sum(os.path.getsize(f) for f in files) // RUN_PARTITIONS)
    for name, df in steps:
        with tr.span(f"ladder.{name}"):
            if df is None:
                default = spark.conf.get(SPLIT_CONF)
                spark.conf.set(SPLIT_CONF, str(split))
                try:
                    extract_text(spark.read.parquet(*files)) \
                        .write.format("noop").mode("overwrite").save()
                finally:
                    spark.conf.set(SPLIT_CONF, default)
            else:
                df.write.format("noop").mode("overwrite").save()
    t = {name: tr.dur(f"ladder.{name}") for name, _ in steps}
    o = "operators.extract."
    return {o + "scan_s": t["scan"],
            o + "handoff_s": t["handoff"] - t["scan"],
            o + "decode_s": t["decode"] - t["handoff"],
            o + "task_tax_s": t["tasks"] - t["decode"],
            o + "shuffle_s": t["shuffle"] - t["tasks"]}


def pipeline_layer(spark, tr: Tracer, pages, out: str, run_id: str,
                   scratch: str) -> dict:
    """Lineage and write of a committed run, each timed on its own:
    lineage_rows over the committed run, and the run's write of the
    salted-extract output, persisted beforehand."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.operators.extract import extract_text
    from pdf_extract_spark.plans.pipeline import (ParquetRunWriter,
                                                  lineage_rows)

    extracted = os.path.join(out, "extracted")
    with tr.span("pipeline.lineage"):
        staged = (spark.read.parquet(extracted)
                  .filter(F.col("run_id") == run_id)
                  .select("partition_id", "text_sha256", "error"))
        n_parts = lineage_rows(staged, run_id).toArrow().num_rows
    ext = extract_text(pages, num_partitions=RUN_PARTITIONS).persist()
    ext.count()
    shaped = (ext.withColumn("partition_id", F.spark_partition_id())
              .withColumn("run_id", F.lit(run_id))
              .withColumn("status", F.when(F.col("error").isNull(), "ok")
                          .otherwise("err")))
    with tr.span("pipeline.write"):
        ParquetRunWriter(os.path.join(scratch, "extracted")).write_run(shaped)
    ext.unpersist()
    run_dir = os.path.join(extracted, f"run_id={run_id}")
    p = "plans.pipeline."
    return {p + "write_s": tr.dur("pipeline.write"),
            p + "lineage_s": tr.dur("pipeline.lineage"),
            p + "partitions": n_parts,
            p + "files": sum(f.endswith(".parquet")
                             for _, _, fs in os.walk(run_dir) for f in fs),
            p + "out_mb": du(run_dir) / (1 << 20)}


def corpus_layer(stats: dict, end: float, log: dict) -> dict:
    """Stage walls and outputs from run_corpus_prep's stats, and each
    stage's shuffle bytes from event-log tasks inside its time window.
    Stage walls are consecutive and end when the call returns."""
    p = "plans.corpus."
    m = {}
    for name in CORPUS_STAGES:
        st = stats["stages"][name]
        m[f"{p}{name}_s"] = st["wall_s"]
        m[f"{p}{name}_n_out"] = st["n_out"]
    for name in reversed(CORPUS_STAGES):
        start = end - stats["stages"][name]["wall_s"]
        m[f"{p}{name}.shuffle_mb"] = spark_totals(
            in_window(log, start, end))["shuffle_write_mb"]
        end = start
    return m


def first_call(spark, tr: Tracer, spec: dict) -> str:
    """The untimed run_extraction before the timed ones. It commits the
    base input, or, if there is none, runs the corpus slice into a
    scratch directory. As the process's first job it also compiles the
    job's plans and starts the Python workers."""
    from pdf_extract_spark.plans.pipeline import run_extraction

    base = os.path.join(spec["out_root"], "base")
    with tr.span("first_call"):
        run_extraction(spark, spark.read.parquet(
            *(spec["base_pages"] or [spec["corpus_pages"]])), base,
            run_id="base")
    return base


def timed_call(spark, tr: Tracer, spec: dict, pages, base: str | None,
               goldens: dict, result: dict, name: str) -> str:
    """run_extraction on a fresh output directory (holding a copy of the
    base commit, if any), its output checked. Returns that directory."""
    from pdf_extract_spark.plans.pipeline import run_extraction

    out = os.path.join(spec["out_root"], name)
    if spec["base_pages"]:
        shutil.copytree(base, out)
    with tr.span(name):
        run_extraction(spark, pages, out, run_id=f"bench-{name}")
    a, f, p = checks.check_extract(out, goldens)
    result["attempted"] += a
    result["failed"] += f
    result["problems"] += p[:20]
    return out


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    tr = Tracer(spec["run_id"])
    goldens = load_goldens(spec["goldens"])

    with tr.span("setup"):
        with tr.span("setup.session"):
            from pdf_extract_spark.session import get_spark
            spark = get_spark(app_name=f"perfbench-{spec['workload']}")
        with tr.span("setup.register"):
            pages = spark.read.parquet(*spec["pages"])
        with tr.span("setup.warmup"):
            warm_up(pages)
    result = {"setup_s": tr.dur("setup"), "walls": [], "out_bytes": [],
              "attempted": 0, "failed": 0, "problems": []}
    if not spec["trace"]:
        base = first_call(spark, tr, spec)
        if not spec["base_pages"]:
            shutil.rmtree(base)
        # the process keeps warming up over its first calls: the first
        # call of the full job is not timed either
        shutil.rmtree(timed_call(spark, tr, spec, pages, base, goldens,
                                 result, "warmup"))
        # at least MIN_CALLS calls and the run's seconds
        while (len(result["walls"]) < spec["min_calls"]
               or sum(result["walls"]) < spec["seconds"]):
            name = f"call.{len(result['walls'])}"
            out = timed_call(spark, tr, spec, pages, base, goldens, result,
                             name)
            result["walls"].append(tr.dur(name))
            result["out_bytes"].append(du(out))
            shutil.rmtree(out)
    else:
        layers, corpus = traced_layers(spark, tr, spec, pages, goldens,
                                       result)
    spark.stop()
    if spec["trace"]:
        # the event log is complete once the session has stopped
        layers.update(event_log_layers(read_event_log(spec["event_log_dir"]),
                                       tr, corpus, len(result["walls"])))
        decoded = [f for f in spec["pages"] if f not in spec["base_pages"]]
        with tr.span("kernels"):
            km, result["kernel_errors"] = kernel_layer(decoded)
        layers.update(km)
        # the kernels' core-seconds as a share of the timed call's
        n_decoded = km["kernels.docs_html"] + km["kernels.docs_pdf"]
        layers["kernels.wall_share"] = (
            km["kernels.decode_us_per_doc"] * n_decoded / 1e6
            / (spec["nproc"] * statistics.median(result["walls"])))
        result["layers"] = layers
    result["spans"] = tr.spans
    with open(result_path, "w") as f:
        json.dump(result, f)


def query_layer(spark, tr: Tracer, qdir: str,
                result: dict) -> dict:
    """The frozen query set, each query collected once with toArrow and
    checked against its oracle signature. The on-disk indexes that users
    build once per corpus are built first, untimed."""
    import __spark_entry__
    from pdf_extract_spark.queries.search_q import _lexical_index_dir
    from pdf_extract_spark.queries.vectors_q import _ivf_index_dir

    sf = os.path.join(qdir, "tables")
    with open(os.path.join(qdir, "expected.json")) as f:
        expected = json.load(f)
    with tr.span("queries.indexes"):
        _lexical_index_dir(spark, sf)
        _ivf_index_dir(spark, sf)
    fns = __spark_entry__.queries()
    for name in queries.FROZEN:
        with tr.span(f"queries.{name}"):
            tab = fns[name](spark, sf).toArrow()
        result["attempted"] += 1
        problem = queries.check(name, tab, expected)
        if problem:
            result["failed"] += 1
            result["problems"].append(problem)
    return {f"queries.{name}_s": tr.dur(f"queries.{name}")
            for name in queries.FROZEN}


def traced_layers(spark, tr: Tracer, spec: dict, pages, goldens: dict,
                  result: dict) -> tuple[dict, dict]:
    """The traced process's calls and layers, in this order:
    run_corpus_prep over the corpus slice as the process's first job (as
    a corpus-prep run in a fresh process meets it), the untimed first
    call, the extract ladder, the timed call, the same call with the
    event log paused, the pipeline layer and the frozen query set.
    Returns the metrics and the corpus run's stats for the event-log
    pass."""
    from pdf_extract_spark.plans.corpus import run_corpus_prep

    scratch = os.path.join(spec["out_root"], "layers")
    corpus_out = os.path.join(scratch, "corpus")
    corpus_pages = spark.read.parquet(spec["corpus_pages"])
    with tr.span("corpus.run"):
        stats = run_corpus_prep(spark, corpus_out, pages=corpus_pages)
    urls = {r.url for r in corpus_pages.select("url").collect()}
    sliced = {u: g for u, g in goldens.items() if u in urls}
    a, f, probs = checks.check_corpus(corpus_out, stats, sliced, len(sliced))
    result["attempted"] += a
    result["failed"] += f
    result["problems"] += probs[:20]
    corpus_wall = tr.dur("corpus.run")
    stage_sum = sum(stats["stages"][s]["wall_s"] for s in CORPUS_STAGES)
    c = "plans.corpus."
    m = {c + "residual_s": corpus_wall - stage_sum}
    m[c + "residual_share"] = m[c + "residual_s"] / corpus_wall

    base = first_call(spark, tr, spec)
    if not spec["base_pages"]:
        shutil.rmtree(base)
    decoded = [f for f in spec["pages"] if f not in spec["base_pages"]]
    m["session.start_s"] = tr.dur("setup.session")
    m.update(ladder_layer(spark, tr, decoded))

    # the traced call, then the same call with the event log paused
    out = timed_call(spark, tr, spec, pages, base, goldens, result, "call.0")
    result["walls"].append(tr.dur("call.0"))
    result["out_bytes"].append(du(out))
    sc = spark.sparkContext._jsc.sc()
    event_log = sc.eventLogger().get()
    sc.removeSparkListener(event_log)
    try:
        timed_call(spark, tr, spec, pages, base, goldens, result, "untraced")
    finally:
        sc.listenerBus().addToEventLogQueue(event_log)
    m["trace.overhead_s"] = tr.dur("call.0") - tr.dur("untraced")

    m.update(pipeline_layer(spark, tr, spark.read.parquet(*decoded), out,
                            "bench-call.0", os.path.join(scratch, "write")))
    p = "plans.pipeline."
    layers_sum = sum(m[k] for k in (
        "operators.extract.scan_s", "operators.extract.handoff_s",
        "operators.extract.decode_s", "operators.extract.task_tax_s",
        "operators.extract.shuffle_s", p + "write_s", p + "lineage_s"))
    wall = statistics.median(result["walls"])
    m[p + "residual_s"] = wall - layers_sum
    m[p + "residual_share"] = m[p + "residual_s"] / wall

    m.update(query_layer(spark, tr, spec["queries_dir"], result))
    return m, stats


def event_log_layers(log: dict, tr: Tracer, corpus_stats: dict,
                     n_calls: int) -> dict:
    m = corpus_layer(corpus_stats, tr.window("corpus.run")[1], log)
    m.update({"operators.extract." + k: v for k, v in busiest_stage(
        in_window(log, *tr.window("ladder.shuffle"))).items()})
    calls = {"jobs": [], "tasks": []}
    for k in range(n_calls):
        win = in_window(log, *tr.window(f"call.{k}"))
        calls["jobs"] += win["jobs"]
        calls["tasks"] += win["tasks"]
    m.update({f"spark.{k}": v / n_calls
              for k, v in spark_totals(calls).items()})
    return m


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
