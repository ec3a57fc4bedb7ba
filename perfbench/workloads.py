"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned and been
checked. An operation is a ``mirror()`` call over a release of dump
databases followed by an analytics step over data of the same run.

- ``small_mirror_curate``: a release of many tiny databases, then one
  ``curate_increment()`` of a small batch of documents against the
  fingerprint store that set-up bootstraps with ``curate_corpus()`` and
  every increment grows. Fixed costs dominate both halves: per-database
  verify and write jobs, the thread pool and retries in the mirror, and
  per-job and per-task overhead in the curation's many small shuffles.
- ``bulk_mirror_query``: a release of two large databases, then the
  relational probes over one of the mirrored databases. Checksum bytes,
  TSV decode and parquet encode dominate the mirror; planning, catalog
  reads and scans dominate the queries.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen

MAX_RETRY = 1


@dataclass
class Op:
    """One timed operation and its checks. ``attempted`` counts the
    databases, queries and increments in it; ``failed`` those whose check
    failed. ``mirror_s`` is the time of the ``mirror()`` call and ``rows``
    the rows it landed; ``analytics_s`` the time of the analytics step
    (the query pass, or the increment); ``ready_s`` each landed database's
    time from the ``mirror()`` call to its last ``_SUCCESS``; ``query_s``
    each query's time; ``facts`` what the increment reported."""

    wall_s: float
    mirror_s: float
    analytics_s: float
    rows: int
    attempted: int
    failed: int
    ready_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    priority_ready_s: float = 0.0
    bytes_ratio: float = 0.0
    facts: dict = field(default_factory=dict)


class Context:
    """Per-run paths and settings shared by the workloads."""

    def __init__(self, base: str, seed: int, cores: int, tracer=None):
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.run_dir = os.path.join(base, "run")
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new, empty directory under the run directory."""
        self._n += 1
        path = os.path.join(self.run_dir, f"{name}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)


def _cached(cache: str, build) -> dict:
    """Build inputs once per key; the manifest is written last, so a
    half-built directory is never reused."""
    manifest_path = os.path.join(cache, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            return json.load(f)
    shutil.rmtree(cache, ignore_errors=True)
    os.makedirs(cache)
    manifest = build(cache)
    with open(manifest_path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest


def _module(name: str):
    # looked up on the module each call, so the traced run's rebinding applies
    return importlib.import_module(f"ensembl_database_loader_spark.{name}")


def _mirror(spark, work_dir: str, target: str, ctx: Context):
    return _module("pipeline.mirror").mirror(
        spark,
        work_dir,
        target,
        mode="ensembl",
        priority_species=gen.PRIORITY_SPECIES,
        priority_groups=gen.PRIORITY_GROUPS,
        max_concurrent=ctx.cores,
        max_retry=MAX_RETRY,
        seed=ctx.seed,
    )


def _ready_s(target: str, database: str, t0: float) -> float:
    """Seconds from the mirror() call to the database's last _SUCCESS."""
    d = os.path.join(target, database)
    return max(os.stat(os.path.join(d, t, "_SUCCESS")).st_mtime for t in os.listdir(d)) - t0


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if not f.startswith((".", "_")))
    return total


def check_landed(target: str, database: str, expected: dict) -> list[str]:
    """Problems with one landed database: the table set, and per table the
    row count and order-independent content hash."""
    d = os.path.join(target, database)
    if not os.path.isdir(d):
        return [f"{database}: not landed"]
    problems = []
    if sorted(os.listdir(d)) != sorted(expected):
        problems.append(f"{database}: tables {sorted(os.listdir(d))}")
    for table, want in expected.items():
        path = os.path.join(d, table)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            problems.append(f"{database}.{table}: no _SUCCESS")
            continue
        got = list(gen.digest(pq.read_table(path)))
        if got != want:
            problems.append(f"{database}.{table}: rows/hash {got} != {want}")
    return problems


def expected_email_lines(ok: list[str], failed: list[str]) -> list[str]:
    """The count lines render_email_summary must show, from the
    benchmark's own routing rule."""
    by_branch = {b: sum(gen.priority_branch(n) == b for n in ok) for b in (2, 3, 4, 5)}
    return [
        f"  * {len(ok)} databases successfully downloaded ({len(failed)} failed)",
        f"  * {len(ok)} databases successfully prioritised (0 failed)",
        f"  * {by_branch[5]} human variation database successfully loaded (0 failed)",
        f"  * {by_branch[4]} super priority databases successfully loaded (0 failed)",
        f"  * {by_branch[3]} high priority databases successfully loaded (0 failed)",
        f"  * {by_branch[2]} databases successfully loaded (0 failed)",
    ] + [f"input_id='{{database => {n}}}'" for n in failed]


class MirrorWorkload:
    """A mirror() call per operation, then the analytics step: the probes
    over the first mirrored database (``Queries``) or a curation
    increment (``Curation``)."""

    def __init__(self, name: str, n_ensembl: int, n_mart: int, sf: float,
                 parts: dict[str, int], zero_date_share: float, corrupt: bool,
                 analytics):
        self.name = name
        self.n_ensembl = n_ensembl
        self.n_mart = n_mart
        self.sf = sf
        self.parts = parts
        self.zero_date_share = zero_date_share
        self.corrupt = corrupt
        self.analytics = analytics

    def inputs(self, cache: str, seed: int) -> None:
        keep = int(isinstance(self.analytics, Queries))

        def build(d: str) -> dict:
            manifest, landed = gen.build_release(
                os.path.join(d, "work"), seed, self.n_ensembl, self.n_mart, self.sf,
                self.parts, self.zero_date_share, self.corrupt, keep=keep,
            )
            # the warm-up release: one tiny database, never timed
            _, warm = gen.build_release(os.path.join(d, "warm"), seed + 1_000_003, 1, 0, 0.001,
                                        {"lineitem": 2}, 0.0, False, keep=1)
            self.analytics.build(d, seed, manifest, landed, *warm.values())
            return manifest

        self.manifest = _cached(cache, build)
        self.work = os.path.join(cache, "work")
        self.warm = os.path.join(cache, "warm")
        self.analytics.prepare(cache, seed)

    def setup(self, spark, ctx: Context) -> None:
        """The warm-up pass: mirror a one-database release while, in a
        second thread, the analytics step warms up."""
        t0 = time.perf_counter()
        phases = {}

        def timed(name, fn, *args):
            fn(*args)
            phases[name] = time.perf_counter() - t0

        with ThreadPoolExecutor(1) as pool:
            warm = pool.submit(timed, "warm_analytics", self.analytics.setup, spark, ctx)
            report = _mirror(spark, self.warm, ctx.fresh("warm"), ctx)
            phases["warm_mirror"] = time.perf_counter() - t0
            warm.result()
        if report.failed_databases:
            raise RuntimeError(f"warm-up mirror failed: {report.failed_databases}")
        self.setup_phases = phases

    def op(self, spark, ctx: Context, i: int) -> Op:
        m = self.manifest
        target = ctx.fresh("target")
        attempted = len(m["ensembl"]) + self.analytics.attempted
        t0 = time.time()
        try:
            with ctx.span("op", i=i):
                report = _mirror(spark, self.work, target, ctx)
                mirror_s = time.time() - t0
                a0 = time.perf_counter()
                result = self.analytics.run(spark, ctx, os.path.join(target, m["ensembl"][0]))
                analytics_s = time.perf_counter() - a0
                wall = time.time() - t0
        except Exception:  # the program failed: the whole operation counts as failed
            traceback.print_exc()
            wall = time.time() - t0
            shutil.rmtree(target, ignore_errors=True)
            return Op(wall, wall, wall, 0, attempted, attempted)

        problems = self.check_mirror(spark, report, target)
        problems |= self.analytics.check(m, result)
        failed = [k for k, v in problems.items() if v]
        for k in failed:
            print(f"CHECK FAILED {self.name} op {i}: {problems[k]}", flush=True)

        landed = [n for n in m["ensembl"] if n != m["corrupt"] and not problems.get(n)]
        ready = {n: _ready_s(target, n, t0) for n in landed}
        priority = [ready[n] for n in landed if gen.priority_branch(n) >= 3]
        in_bytes = sum(m["input_bytes"][n] for n in landed)
        out_bytes = _parquet_bytes(target)
        shutil.rmtree(target, ignore_errors=True)
        return Op(
            wall_s=wall,
            mirror_s=mirror_s,
            analytics_s=analytics_s,
            rows=sum(r for n in landed for r, _ in m["expected"][n].values()),
            attempted=attempted,
            failed=min(len(failed), attempted),
            ready_s=list(ready.values()),
            query_s=result.get("query_s", []),
            priority_ready_s=max(priority) if priority else mirror_s,
            bytes_ratio=out_bytes / in_bytes if in_bytes else 0.0,
            facts=result.get("facts", {}),
        )

    def finish(self, spark, ctx: Context, ops: list[Op]) -> None:
        self.analytics.finish(spark, ctx, ops, self.name)

    def check_mirror(self, spark, report, target: str) -> dict[str, list[str]]:
        """Every database that should land did, with the generated rows;
        the corrupt one failed verification on every attempt; marts were
        filtered out; the email summary shows the counts."""
        from ensembl_database_loader_spark.pipeline.mirror import render_email_summary

        m = self.manifest
        bad = [m["corrupt"]] if m["corrupt"] else []
        ok = [n for n in m["ensembl"] if n not in bad]
        problems = {n: check_landed(target, n, m["expected"][n]) for n in ok}
        for n in bad + m["marts"]:
            if os.path.exists(os.path.join(target, n)):
                problems.setdefault(n, []).append(f"{n}: landed but should not")
        for n in set(report.failed_databases) ^ set(bad):
            problems.setdefault(n, []).append(f"{n}: unexpected outcome")
        for r in report.results:
            if r.database in bad and (r.status != "FAILED" or r.analysis != "verify" or r.attempt != MAX_RETRY):
                problems.setdefault(r.database, []).append(f"{r.database}: {r}")
        email = render_email_summary(report.to_df(spark))
        missing = [line for line in expected_email_lines(ok, bad) if line not in email]
        if missing:
            problems["email"] = [f"email lacks {missing}"]
        return problems


class Queries:
    """The analytics step of ``bulk_mirror_query``: the probes, in seeded
    order, over the first mirrored database exposed as
    ``<dir>/<table>.parquet``. Each probe is one attempted operation,
    checked against its DuckDB oracle over the generated tables."""

    def __init__(self, probes: tuple[str, ...]):
        self.probes = probes
        self.attempted = len(probes)

    def build(self, cache: str, seed: int, manifest: dict, landed: dict, warm: dict) -> None:
        manifest["oracle"] = oracle(landed[manifest["ensembl"][0]], self.probes)
        os.makedirs(os.path.join(cache, "warm-tables"))
        for t, tb in warm.items():
            pq.write_table(tb, os.path.join(cache, "warm-tables", f"{t}.parquet"))

    def prepare(self, cache: str, seed: int) -> None:
        self.warm_tables = os.path.join(cache, "warm-tables")
        rng = np.random.default_rng([seed, len(self.probes)])
        self.warm_order, self.order = (list(rng.permutation(self.probes)) for _ in range(2))

    def setup(self, spark, ctx: Context) -> None:
        """Run every probe once over the warm-up release's tables."""
        for name in self.warm_order:
            run_probe(spark, name, self.warm_tables, ctx)

    def run(self, spark, ctx: Context, db_dir: str) -> dict:
        tables = expose(db_dir, ctx.fresh("tables"))
        query_s, answers = [], []
        for name in self.order:
            q0 = time.perf_counter()
            answers.append((name, run_probe(spark, name, tables, ctx)))
            query_s.append(time.perf_counter() - q0)
        return {"query_s": query_s, "answers": answers}

    def check(self, manifest: dict, result: dict) -> dict[str, list[str]]:
        return {
            name: [f"{name}: result differs from its oracle"]
            for name, (columns, rows) in result["answers"]
            if canonical_rows(columns, rows) != manifest["oracle"][name]
        }

    def finish(self, spark, ctx: Context, ops: list[Op], workload: str) -> None:
        """Every query was checked as it ran."""


#: The relational probes run against the mirror: an aggregate scan, 3-
#: and 6-way join shapes, an anti join, a window rank and date functions.
PROBES = (
    "q15_tpch_q1",
    "q41_tpch_q3_shape",
    "q42_tpch_q5_shape",
    "q12_anti_join",
    "q23_window_rank",
    "q31_date_fns",
)


def canonical_rows(columns: list[str], rows) -> list[list[str]]:
    """Rows as sorted lists of strings, columns in name order."""
    order = sorted(range(len(columns)), key=lambda k: columns[k])
    return sorted([str(row[k]) for k in order] for row in rows)


def oracle(tables: dict, probes: tuple[str, ...]) -> dict[str, list[list[str]]]:
    """Each probe's DuckDB oracle over the generated tables."""
    import duckdb

    from ensembl_database_loader_spark.plans import all_probes

    con = duckdb.connect()
    try:
        for t, tb in tables.items():
            con.register(t, tb)
        known = all_probes()
        out = {}
        for name in probes:
            cur = con.execute(known[name].oracle)
            out[name] = canonical_rows([c[0] for c in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def expose(db_dir: str, tables_dir: str) -> str:
    """Expose a mirrored database's tables as ``<dir>/<table>.parquet``,
    the layout the probes read."""
    os.makedirs(tables_dir)
    for t in os.listdir(db_dir):
        os.symlink(os.path.join(db_dir, t), os.path.join(tables_dir, f"{t}.parquet"))
    return tables_dir


def run_probe(spark, name: str, tables_dir: str, ctx: Context):
    from ensembl_database_loader_spark.plans import all_probes

    probe = all_probes()[name]
    with ctx.span("query.build", probe=name):
        df = probe.spark_fn(spark, tables_dir)
    with ctx.span("query.exec", probe=name):
        rows = df.collect()
    return df.columns, rows


#: The funnel counts curate_corpus and curate_increment report.
FUNNEL = ("n_input", "n_quality", "n_exact", "n_kept", "tokens_kept")


def _funnel(stats) -> list[int]:
    (row,) = stats.collect()
    return [int(row[k]) for k in FUNNEL]


def _kept_ids(kept) -> list[int]:
    return sorted(r[0] for r in kept.select("id").collect())


def _store_size(store: str) -> tuple[int, int]:
    """(data files, signature rows) of the fingerprint store."""
    files = rows = 0
    for sub in ("exact_sigs", "band_keys"):
        d = os.path.join(store, sub)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                files += 1
                if sub == "exact_sigs":
                    rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return files, rows


class Curation:
    """The analytics step of ``small_mirror_curate``: a
    curate_increment() call per operation. Set-up bootstraps the
    fingerprint store with curate_corpus(near_dup="minhash") over the
    first documents; each increment curates the next batch against it
    and appends to it, so the history grows within the run. Each
    increment is one attempted operation, checked in ``finish``."""

    attempted = 1

    def __init__(self, n_boot: int, n_batch: int, n_batches: int):
        self.n_boot = n_boot
        self.n_batch = n_batch
        self.n_batches = n_batches

    def build(self, cache: str, seed: int, manifest: dict, landed: dict, warm: dict) -> None:
        docs = gen.documents(seed, self.n_boot + self.n_batch * self.n_batches)
        pq.write_table(docs, os.path.join(cache, "documents.parquet"))
        manifest["documents"] = docs.num_rows

    def prepare(self, cache: str, seed: int) -> None:
        self.path = os.path.join(cache, "documents.parquet")

    def _docs(self, spark, lo: int, hi: int):
        """Documents with ids in [lo, hi), as the program receives them."""
        from pyspark.sql import functions as F

        return spark.read.parquet(self.path).where(F.col("doc_id").between(lo, hi - 1))

    def setup(self, spark, ctx: Context) -> None:
        """Bootstrap the store."""
        self.store = ctx.fresh("store")
        kept, stats = _module("pipeline.curate").curate_corpus(
            self._docs(spark, 0, self.n_boot), near_dup="minhash", store_path=self.store
        )
        self.boot = (_funnel(stats), _kept_ids(kept))
        self.done = self.n_boot

    def run(self, spark, ctx: Context, db_dir: str) -> dict:
        lo, hi = self.done, self.done + self.n_batch
        if hi > self.n_boot + self.n_batch * self.n_batches:
            raise RuntimeError(f"more than {self.n_batches} increments")
        self.done = hi
        kept, stats = _module("pipeline.curate").curate_increment(self._docs(spark, lo, hi), self.store)
        with ctx.span("curate.exec"):
            funnel, ids = _funnel(stats), _kept_ids(kept)
        return {"facts": {"lo": lo, "hi": hi, "funnel": funnel, "kept": ids}}

    def check(self, manifest: dict, result: dict) -> dict[str, list[str]]:
        """Record the store's size after the increment, outside the timed
        step; the increment itself is checked in ``finish``."""
        files, rows = _store_size(self.store)
        result["facts"] |= {"store_files": files, "store_rows": rows}
        return {}

    def finish(self, spark, ctx: Context, ops: list[Op], workload: str) -> None:
        """Check the increments against a one-shot curate_corpus over the
        bootstrap and every increment: each increment's kept ids are the
        one-shot's kept ids in its range, and the funnel counts of the
        bootstrap and the increments add up to the one-shot's. An
        operation whose increment's ids differ fails one more unit; if
        the sums differ, every operation does."""
        kept, stats = _module("pipeline.curate").curate_corpus(
            self._docs(spark, 0, self.done), near_dup="minhash"
        )
        want_funnel, want = _funnel(stats), _kept_ids(kept)
        boot_funnel, boot_ids = self.boot
        total = [sum(c) for c in zip(boot_funnel, *(o.facts["funnel"] for o in ops if o.facts))]
        whole_ok = (
            all(o.facts for o in ops)
            and total == want_funnel
            and boot_ids == [x for x in want if x < self.n_boot]
        )
        if not whole_ok:
            print(f"CHECK FAILED {workload}: funnel {total} != one-shot {want_funnel}, "
                  "or the bootstrap's kept ids differ", flush=True)
        for i, o in enumerate(ops):
            f = o.facts
            if not (whole_ok and f["kept"] == [x for x in want if f["lo"] <= x < f["hi"]]):
                print(f"CHECK FAILED {workload} op {i}: increment differs from the one-shot", flush=True)
                o.failed = min(o.failed + 1, o.attempted)


WORKLOADS = {
    "small_mirror_curate": MirrorWorkload(
        "small_mirror_curate", n_ensembl=8, n_mart=4, sf=0.001,
        parts={"lineitem": 4}, zero_date_share=0.01, corrupt=True,
        analytics=Curation(n_boot=100, n_batch=100, n_batches=20),
    ),
    "bulk_mirror_query": MirrorWorkload(
        "bulk_mirror_query", n_ensembl=2, n_mart=0, sf=0.1,
        parts={"lineitem": 8, "orders": 4}, zero_date_share=0.0, corrupt=False,
        analytics=Queries(PROBES),
    ),
}
