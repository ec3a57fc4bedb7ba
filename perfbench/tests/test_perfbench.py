"""Tests of the benchmark itself: seeded inputs, output checks, spans.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import gzip
import os

import gen
import layers
import run
import workloads
from spans import Tracer


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _release(root: str, seed: int) -> dict:
    manifest, _ = gen.build_release(root, seed, 6, 2, 0.001, {"lineitem": 3}, 0.01, True)
    return manifest


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _release(str(tmp_path / "a"), 5)
    b = _release(str(tmp_path / "b"), 5)
    c = _release(str(tmp_path / "c"), 6)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a == b
    assert sorted(a["ensembl"]) != sorted(c["ensembl"])
    assert a["corrupt"] != c["corrupt"]
    order = lambda m: [n for n in m["expected"]]  # noqa: E731 - names in write order
    assert order(a) != order(c)


def test_documents_are_seeded():
    a, b, c = gen.documents(5, 300), gen.documents(5, 300), gen.documents(6, 300)
    assert a.equals(b) and not a.column("text").equals(c.column("text"))
    assert a.column("doc_id").to_pylist() == list(range(300))


def test_bsd_sum_matches_known_values():
    # values of `sum -r` (BSD algorithm) on these inputs
    assert gen.bsd_sum(b"") == (0, 0)
    assert gen.bsd_sum(b"abc\n") == (8288, 1)
    assert gen.bsd_sum(bytes(2048)) == (0, 2)


def test_release_covers_every_priority_branch(tmp_path):
    m = _release(str(tmp_path), 9)
    assert {gen.priority_branch(n) for n in m["ensembl"]} == {2, 3, 4, 5}
    assert all("_mart_" in n for n in m["marts"])
    assert m["corrupt"] in m["ensembl"] and m["checksums_gz"] != m["corrupt"]
    assert os.path.exists(tmp_path / m["checksums_gz"] / "CHECKSUMS.gz")


def _small_workload(tmp_path) -> workloads.MirrorWorkload:
    """A mirror-only workload: no probes after the mirror."""
    wl = workloads.MirrorWorkload(
        "t", n_ensembl=4, n_mart=1, sf=0.001, parts={"lineitem": 2},
        zero_date_share=0.01, corrupt=True, analytics=workloads.Queries(()),
    )
    wl.inputs(str(tmp_path / "inputs"), 21)
    return wl


def test_unmodified_release_passes_and_flipped_byte_fails(spark, tmp_path):
    wl = _small_workload(tmp_path)
    ctx = workloads.Context(str(tmp_path / "base"), 21, 4)
    op = wl.op(spark, ctx, 0)
    assert op.failed == 0 and op.attempted == 4

    # Change one byte of one part's rows and re-sign it, so verification
    # passes and only the content check can notice.
    m = wl.manifest
    db = next(n for n in m["ensembl"] if n != m["corrupt"] and n != m["checksums_gz"])
    d = os.path.join(wl.work, db)
    part = os.path.join(d, "lineitem.0001.txt.gz")
    with gzip.open(part, "rb") as f:
        text = bytearray(f.read())
    i = text.index(b"\t") - 1  # last digit of the first order key
    text[i] = ord("7") if text[i] != ord("7") else ord("8")
    with open(part, "wb") as f:
        f.write(gen._gzip(bytes(text)))
    lines = []
    with open(os.path.join(d, "CHECKSUMS"), encoding="utf-8") as f:
        for line in f:
            if line.rstrip().endswith(" lineitem.0001.txt.gz"):
                with open(part, "rb") as p:
                    s, blocks = gen.bsd_sum(p.read())
                line = f"{s:05d} {blocks:5d} lineitem.0001.txt.gz\n"
            lines.append(line)
    with open(os.path.join(d, "CHECKSUMS"), "w", encoding="utf-8") as f:
        f.writelines(lines)

    op = wl.op(spark, ctx, 1)
    assert op.failed / op.attempted > 0


def test_spans_nest_and_cover_mirror(spark, tmp_path):
    wl = _small_workload(tmp_path)
    tracer = Tracer("t", spark.sparkContext)
    ctx = workloads.Context(str(tmp_path / "base"), 21, 4, tracer)
    run.install(tracer)
    try:
        op = wl.op(spark, ctx, 0)
    finally:
        tracer.unpatch()
    assert op.failed == 0
    spans = tracer.spans
    assert layers.check_nesting(spans) == []
    (root,) = [s for s in spans if s.name == "op"]
    (mirror,) = [s for s in spans if s.name == "mirror"]
    assert mirror.parent == root.id
    below = layers.descendants(spans, mirror)
    names = {s.name for s in spans if s.id in below}
    assert {"dump.read", "dump.scan", "dump.ddl", "dump.verify", "dump.read_table", "sink.write"} <= names
    # corrupt database: one read per attempt
    reads = [s for s in spans if s.name == "dump.read" and s.attrs["db"] == wl.manifest["corrupt"]]
    assert len(reads) == workloads.MAX_RETRY + 1
    self_s = layers.self_time(spans, mirror)
    assert 0 < self_s < mirror.duration


def test_curation_check_passes_and_catches_a_wrong_increment(spark, tmp_path):
    cur = workloads.Curation(n_boot=60, n_batch=40, n_batches=2)
    cur.build(str(tmp_path), 3, {}, {}, {})
    cur.prepare(str(tmp_path), 3)
    tracer = Tracer("t", spark.sparkContext)
    ctx = workloads.Context(str(tmp_path / "base"), 3, 4, tracer)
    cur.setup(spark, ctx)
    run.install(tracer)
    try:
        with ctx.span("op"):
            result = cur.run(spark, ctx, "")
    finally:
        tracer.unpatch()
    assert cur.check({}, result) == {}
    facts = result["facts"]
    assert facts["store_rows"] > 0 and facts["store_files"] > 0
    op = workloads.Op(1.0, 1.0, 1.0, 0, 1, 0, facts=facts)
    cur.finish(spark, ctx, [op], "t")
    assert op.failed == 0 and facts["funnel"][0] == 40
    assert layers.check_nesting(tracer.spans) == []
    assert {"op", "curate.increment", "curate.exec"} <= {s.name for s in tracer.spans}

    # an increment that kept one document too few must fail the check
    wrong = workloads.Op(1.0, 1.0, 1.0, 0, 1, 0, facts=dict(facts, kept=facts["kept"][1:]))
    cur.finish(spark, ctx, [wrong], "t")
    assert wrong.failed == 1
