"""Per-layer metrics of a traced run, derived from its spans, the Spark
event log and the facts each curation increment records. Values are per
timed operation (a ``mirror()`` call, an increment, or one query) unless
the name says otherwise; a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import os

from spans import DESC_PREFIX, Span, descendants, self_time

MB = 1e6

#: name -> unit, in report order
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "mirror.route_s": "s",
    "mirror.dispatch_wait_s_p50": "s",
    "mirror.dispatch_wait_s_p90": "s",
    "mirror.attempts_per_db": "count",
    "mirror.dbs_in_flight_mean": "count",
    "mirror.span_s": "s",
    "mirror.self_s": "s",
    "mirror.children_s": "s",
    "dump.scan_s": "s",
    "dump.ddl_parse_s": "s",
    "dump.verify_s": "s",
    "dump.verify_s_per_db_p50": "s",
    "dump.verify_mb_per_s": "MB/s",
    "dump.read_plan_s": "s",
    "dump.self_s": "s",
    "sink.write_s": "s",
    "sink.write_s_per_table_p50": "s",
    "sink.rows_per_s": "1/s",
    "sink.bytes_out_mb": "MB",
    "catalog.table_s": "s",
    "query.build_s": "s",
    "query.exec_s": "s",
    "query.tasks_per_query": "count",
    "query.input_mb_per_query": "MB",
    "curate.build_s": "s",
    "curate.exec_s": "s",
    "curate.store_files": "count",
    "curate.store_rows": "count",
    "curate.kept_ratio": "ratio",
    "curate.exact_dup_ratio": "ratio",
    "curate.neardup_drop_ratio": "ratio",
    "spark.jobs": "count",
    "spark.jobs_per_db": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_busy_ratio": "ratio",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "trace.spans": "count",
    "trace.overhead_s": "s",
}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no values)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _db_of_path(path: str) -> str:
    return os.path.basename(os.path.dirname(os.path.normpath(path)))


def layer_metrics(
    spans: list[Span],
    jobs: dict[str, dict[str, float]],
    cores: int,
    session_start_s: float,
    overhead_s: float,
    input_bytes: dict[str, int],
    curated: list[dict],
) -> dict[str, float]:
    ops = [s for s in spans if s.name == "op"]
    n_ops = max(len(ops), 1)
    in_op: set[int] = set()
    for op in ops:
        in_op |= descendants(spans, op)
    timed = [s for s in spans if s.id in in_op]

    def named(name: str) -> list[Span]:
        return [s for s in timed if s.name == name]

    def total(name: str) -> float:
        return sum(s.duration for s in named(name))

    def jobs_under(roots: list[Span]) -> dict[str, float]:
        ids: set[int] = set()
        for r in roots:
            ids |= descendants(spans, r)
        out: dict[str, float] = {}
        for sid in ids:
            for k, v in jobs.get(f"{DESC_PREFIX}{sid}", {}).items():
                out[k] = out.get(k, 0) + v
        return out

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_start_s
    m["trace.spans"] = len(timed) / n_ops
    m["trace.overhead_s"] = overhead_s / n_ops

    # pipeline.mirror
    mirrors = named("mirror")
    reads = named("dump.read")
    if mirrors:
        route, waits, flight, selfs, kids = [], [], [], [], []
        for mi in mirrors:
            mine = descendants(spans, mi)
            mreads = sorted((r for r in reads if r.id in mine), key=lambda r: r.start)
            if not mreads:
                continue
            routed = mreads[0].start
            route.append(routed - mi.start)
            first: dict[str, float] = {}
            last: dict[str, float] = {}
            for r in mreads:
                first.setdefault(r.attrs["db"], r.start)
                last[r.attrs["db"]] = max(last.get(r.attrs["db"], 0.0), r.end)
            for w in (s for s in timed if s.name == "sink.write" and s.id in mine):
                db = _db_of_path(w.attrs["path"])
                last[db] = max(last.get(db, 0.0), w.end)
            waits += [t - routed for t in first.values()]
            span = mi.end - routed
            flight.append(sum(last[d] - first[d] for d in first) / span if span > 0 else 0.0)
            selfs.append(self_time(spans, mi))
            kids.append(mi.duration - selfs[-1])
        n = len(route) or 1
        m["mirror.route_s"] = sum(route) / n
        m["mirror.dispatch_wait_s_p50"] = percentile(waits, 0.5)
        m["mirror.dispatch_wait_s_p90"] = percentile(waits, 0.9)
        dbs = {(mi.id, r.attrs["db"]) for mi in mirrors for r in reads if r.id in descendants(spans, mi)}
        m["mirror.attempts_per_db"] = len(reads) / max(len(dbs), 1)
        m["mirror.dbs_in_flight_mean"] = sum(flight) / n
        m["mirror.span_s"] = sum(mi.duration for mi in mirrors) / len(mirrors)
        m["mirror.self_s"] = sum(selfs) / n
        m["mirror.children_s"] = sum(kids) / n
        j = jobs_under(mirrors)
        m["spark.jobs_per_db"] = j.get("jobs", 0) / max(len(dbs), 1)

    # sources.mysql_dump / mysql_ddl
    verifies = named("dump.verify")
    m["dump.scan_s"] = total("dump.scan") / n_ops
    m["dump.ddl_parse_s"] = total("dump.ddl") / n_ops
    m["dump.verify_s"] = total("dump.verify") / n_ops
    m["dump.verify_s_per_db_p50"] = percentile([v.duration for v in verifies], 0.5)
    vsec = total("dump.verify")
    if vsec > 0:
        m["dump.verify_mb_per_s"] = sum(input_bytes.get(v.attrs["db"], 0) for v in verifies) / MB / vsec
    m["dump.read_plan_s"] = total("dump.read_table") / n_ops
    m["dump.self_s"] = sum(self_time(spans, r) for r in reads) / n_ops

    # sink (DataFrameWriter.parquet)
    writes = named("sink.write")
    wsec = total("sink.write")
    m["sink.write_s"] = wsec / n_ops
    m["sink.write_s_per_table_p50"] = percentile([w.duration for w in writes], 0.5)
    jw = jobs_under(writes)
    if wsec > 0:
        m["sink.rows_per_s"] = jw.get("output_rows", 0) / wsec
    m["sink.bytes_out_mb"] = jw.get("output_b", 0) / MB / n_ops

    # catalog and plans.relational
    builds, execs = named("query.build"), named("query.exec")
    if builds:
        nq = len(builds)
        m["catalog.table_s"] = total("catalog.table") / nq
        m["query.build_s"] = total("query.build") / nq
        m["query.exec_s"] = total("query.exec") / nq
        jq = jobs_under(builds + execs)
        m["query.tasks_per_query"] = jq.get("tasks", 0) / nq
        m["query.input_mb_per_query"] = jq.get("input_b", 0) / MB / nq

    # pipeline.curate: the increment call (planning and the store append
    # it runs) and collecting its results; funnel ratios over all batches
    if named("curate.increment"):
        m["curate.build_s"] = total("curate.increment") / n_ops
        m["curate.exec_s"] = total("curate.exec") / n_ops
    if curated:
        n_input, n_quality, n_exact, n_kept, _ = (sum(c) for c in zip(*(f["funnel"] for f in curated)))
        m["curate.store_files"] = sum(f["store_files"] for f in curated) / len(curated)
        m["curate.store_rows"] = sum(f["store_rows"] for f in curated) / len(curated)
        m["curate.kept_ratio"] = n_kept / n_input
        m["curate.exact_dup_ratio"] = (n_quality - n_exact) / n_quality
        m["curate.neardup_drop_ratio"] = (n_exact - n_kept) / n_exact

    # Spark engine, over everything the timed operations caused
    ja = jobs_under(ops)
    wall = sum(o.duration for o in ops)
    m["spark.jobs"] = ja.get("jobs", 0) / n_ops
    m["spark.tasks"] = ja.get("tasks", 0) / n_ops
    m["spark.executor_run_s"] = ja.get("run_s", 0) / n_ops
    m["spark.executor_cpu_s"] = ja.get("cpu_s", 0) / n_ops
    m["spark.gc_s"] = ja.get("gc_s", 0) / n_ops
    m["spark.slot_busy_ratio"] = ja.get("run_s", 0) / (wall * cores) if wall > 0 else 0.0
    m["spark.input_mb"] = ja.get("input_b", 0) / MB / n_ops
    m["spark.output_mb"] = ja.get("output_b", 0) / MB / n_ops
    m["spark.shuffle_write_mb"] = ja.get("shuffle_write_b", 0) / MB / n_ops
    return m


def check_nesting(spans: list[Span]) -> list[str]:
    """Spans that do not lie within their parent."""
    by_id = {s.id: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and not (p.start <= s.start and s.end <= p.end):
            bad.append(f"{s.name}#{s.id} outside {p.name}#{p.id}")
    return bad


