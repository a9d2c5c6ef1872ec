"""Per-layer metrics of the traced run.

``install`` rebinds the public layer functions a workload reaches to
traced wrappers: the names a package module looks up at call time
(``plans.pipeline`` imports its layers by name, so they are rebound
there; the other workloads call their layers through their modules).
``collect`` turns the recorded spans and the stage metrics of their
job groups into the per-layer metrics BENCHMARK.json names.  A layer
the workload never calls reports 0.

Which end-to-end metric each layer should move, and on which workload
(the other workloads bypass the layer, so their figures should not move):

    sources.http, operators.relational,   op_s, rows_per_s    etl_daily_load
    sinks.upsert (writes), plans.pipeline
    plans.catalog + io, sinks.upsert      op_s, rows_per_s    warehouse_analytics
    (read_parquet_table, rollup_s)
    functions.text, operators.retrieval   op_s, rows_per_s    corpus_dedup_search
    operators.dedup                       op_s, rows_per_s,   corpus_dedup_search
                                          recall, precision
    session                               every time metric   all

``sinks.upsert.stored_bytes_per_user_byte`` (bytes on disk of the
three warehouse tables, old snapshots included, over Arrow bytes of the
live rows) is a sink metric a user sees as disk cost; it is per-layer
because only one workload writes while it is timed.  ``sinks.upsert.rollup_s``
is the time of the warehouse rollups, which read the sink's snapshots,
so a change of the sink's file layout shows its read cost there.
``sources.http.retries`` counts the fake fetchers' failed first
requests: the package's retry loop keeps no count of its own.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from perfbench.etl import TABLES
from perfbench.gen import FetchStats

HTTP, REL, UPSERT, READ = "sources.http", "operators.relational", "sinks.upsert.upsert_parquet", \
    "sinks.upsert.read_parquet_table"
PIPELINE, TEXT, DEDUP, OP = "plans.pipeline", "functions.text", "operators.dedup", "perfbench.op"
CATALOG, ROLLUP = "plans.catalog.", "rollup."
INDEX, SEARCH = "operators.retrieval.build_index", "operators.retrieval.bm25_from_index"


def _path(uri: str) -> str:
    return unquote(urlparse(uri).path)


def _snapshot_files(target: str) -> int:
    with open(os.path.join(target, "_LATEST")) as fh:
        snap = os.path.join(target, fh.read().strip())
    return sum(f.endswith(".parquet") for _, _, files in os.walk(snap) for f in files)


def _read(sp, args, kwargs, out):
    files = out.inputFiles()
    sp.attrs["files"] = len(files)
    sp.attrs["bytes"] = sum(os.path.getsize(_path(f)) for f in files)


def install(tracer, workload) -> None:
    workload.tracer = tracer
    if workload.name == "etl_daily_load":
        from etl_tiki_webscraping_spark.plans import pipeline as pl

        workload.fetch_stats = FetchStats.create(tracer.sc)

        def fk_input(sp, args, kwargs, out):
            sp.attrs["in_rows"] = args[0].count()

        def upserted(sp, args, kwargs, out):
            sp.attrs["files"] = _snapshot_files(args[2])

        tracer.wrap(pl, "run_pipeline", PIPELINE)
        tracer.wrap(pl, "paginated_source", HTTP, materialize=True)
        tracer.wrap(pl, "keyed_lookup_source", HTTP, materialize=True)
        tracer.wrap(pl, "dedup_first", REL, materialize=True)
        tracer.wrap(pl, "key_space_union", REL, materialize=True)
        tracer.wrap(pl, "fk_semi_join", REL, materialize=True, on_result=fk_input)
        tracer.wrap(pl, "upsert_parquet", UPSERT, on_result=upserted)
        tracer.wrap(pl, "read_parquet_table", READ, on_result=_read)
    elif workload.name == "warehouse_analytics":
        from etl_tiki_webscraping_spark.sinks import upsert

        tracer.wrap(upsert, "read_parquet_table", READ, on_result=_read)
    else:
        from etl_tiki_webscraping_spark.operators import dedup, retrieval

        tracer.wrap(dedup, "minhash_dedup", DEDUP, materialize=True)
        tracer.wrap(retrieval, "build_index", INDEX, materialize=True)
        tracer.wrap(retrieval, "bm25_from_index", SEARCH, materialize=True)


def _dedup_probe(tracer, workload) -> dict[str, float]:
    """Candidate pairs and verified edges of one corpus pass, counted
    outside the timed operations with the same parameters
    ``minhash_dedup`` uses by default."""
    from etl_tiki_webscraping_spark.operators import dedup

    with tracer.span("perfbench.dedup_probe"):
        good = workload.good_docs()
        cand = dedup.minhash_candidate_pairs(good, "text", "doc_id").count()
        edges = dedup.minhash_duplicate_edges(good, "text", "doc_id").count()
    tracer.spark.catalog.clearCache()
    return {"operators.dedup.candidate_pairs": cand, "operators.dedup.verified_edges": edges,
            "operators.dedup.pair_precision": edges / cand if cand else 0.0}


def collect(tracer, workload, first_job: int, n_ops: int, names: list[str]) -> dict[str, float]:
    """The metrics ``names``: per-operation averages over the traced
    window's ``n_ops`` operations.  ``session.*`` sums every stage the
    timed operations ran, whichever layer ran it; output checks are not
    included."""
    per_group = tracer.stage_metrics(first_job)
    m = dict.fromkeys(names, 0.0)

    def spans(name):
        return [s for s in tracer.spans if s.name == name or name.endswith(".") and s.name.startswith(name)]

    def wall(name):
        return sum(s.end - s.start for s in spans(name)) / n_ops

    def own(name, field, scale=1.0):
        return sum(per_group.get(s.group, {}).get(field, 0) for s in spans(name)) * scale / n_ops

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in spans(name))

    m["sources.http.wall_s"] = wall(HTTP)
    m["sources.http.busy_s"] = own(HTTP, "executorRunTime", 1e-3)
    m["operators.relational.wall_s"] = wall(REL)
    m["operators.relational.shuffle_bytes"] = own(REL, "shuffleWriteBytes")
    m["sinks.upsert.commit_s"] = wall(UPSERT)
    m["sinks.upsert.busy_s"] = own(UPSERT, "executorRunTime", 1e-3)
    m["sinks.upsert.bytes_written"] = own(UPSERT, "outputBytes")
    m["sinks.upsert.files_written"] = attr(UPSERT, "files") / n_ops
    m["sinks.upsert.shuffle_bytes"] = own(UPSERT, "shuffleWriteBytes")
    m["sinks.upsert.spill_bytes"] = own(UPSERT, "diskBytesSpilled")
    m["sinks.upsert.read_s"] = wall(READ)
    m["sinks.upsert.files_read"] = attr(READ, "files") / n_ops
    m["sinks.upsert.input_bytes"] = attr(READ, "bytes") / n_ops
    m["sinks.upsert.rollup_s"] = wall(ROLLUP)
    for q in {s.name for s in spans(CATALOG)}:
        m[f"{q}.wall_s"] = wall(q)
        m[f"{q}.stages"] = own(q, "stages")
        m[f"{q}.shuffle_bytes"] = own(q, "shuffleWriteBytes")
        m[f"{q}.input_records_per_output_row"] = own(q, "inputRecords") / max(attr(q, "rows") / n_ops, 1)
    m["functions.text.wall_s"] = wall(TEXT)
    m["functions.text.busy_s"] = own(TEXT, "executorRunTime", 1e-3)
    m["operators.dedup.wall_s"] = wall(DEDUP)
    m["operators.dedup.busy_s"] = own(DEDUP, "executorRunTime", 1e-3)
    m["operators.dedup.shuffle_bytes"] = own(DEDUP, "shuffleWriteBytes")
    m["operators.dedup.docs_removed"] = (attr(TEXT, "rows") - attr(DEDUP, "rows")) / n_ops
    m["operators.retrieval.index_s"] = wall(INDEX)
    m["operators.retrieval.search_s"] = wall(SEARCH)
    m["operators.retrieval.postings_rows"] = attr(INDEX, "rows") / n_ops
    fk = [s for s in spans(REL) if "in_rows" in s.attrs]
    if fk:
        m["operators.relational.fk_kept_ratio"] = sum(s.attrs["rows"] for s in fk) / sum(s.attrs["in_rows"] for s in fk)

    runs = spans(PIPELINE)
    if runs:
        m["plans.pipeline.run_s"] = wall(PIPELINE)
        m["plans.pipeline.self_s"] = sum(tracer.self_time(s) for s in runs) / n_ops
        groups = [s.group for r in runs for s in [r, *tracer.descendants(r)]]
        for key, field in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "numCompleteTasks")):
            m[f"plans.pipeline.{key}"] = sum(per_group.get(g, {}).get(field, 0) for g in groups) / n_ops

    op_groups = [s.group for op in spans(OP) for s in [op, *tracer.descendants(op)]]
    for key, field in (("jvm_gc_ms", "jvmGcTime"), ("tasks", "numCompleteTasks"),
                       ("tasks_failed", "numFailedTasks"), ("spill_bytes", "diskBytesSpilled")):
        m[f"session.{key}"] = sum(per_group.get(g, {}).get(field, 0) for g in op_groups) / n_ops

    if workload.name == "etl_daily_load":
        stats = workload.fetch_stats
        m["sources.http.fetch_s"] = stats.fetch_s.value / n_ops
        m["sources.http.pages"] = stats.pages.value / n_ops
        m["sources.http.rows"] = stats.rows.value / n_ops
        m["sources.http.retries"] = stats.retries.value / n_ops
        user, per_table = workload.user_bytes()
        changed = workload.changed_rows(workload.day)
        changed_bytes = sum(per_table[t][0] * changed[t] / per_table[t][1] for t in per_table)
        last = [s for s in spans(UPSERT) if s.start >= runs[-1].start]
        last_written = sum(per_group.get(s.group, {}).get("outputBytes", 0) for s in last)
        m["sinks.upsert.write_amplification"] = last_written / changed_bytes
        stored = sum(os.path.getsize(os.path.join(d, f)) for t in TABLES
                     for d, _, files in os.walk(os.path.join(workload.warehouse, t)) for f in files)
        m["sinks.upsert.stored_bytes_per_user_byte"] = stored / user
    elif workload.name == "corpus_dedup_search":
        m.update(_dedup_probe(tracer, workload))
    missing = set(m) - set(names)
    assert not missing, f"metrics missing from BENCHMARK.json: {sorted(missing)}"
    return m
