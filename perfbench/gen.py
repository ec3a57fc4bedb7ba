"""Seeded input generator: TPC-H-shaped tables written as MySQL mirror
dumps (``<db>.sql.gz`` DDL with a view, split ``.NNNN.txt.gz`` TSV parts,
``\\N`` nulls, zero-dates, a ``CHECKSUMS`` manifest).

Everything is derived from the seed, so the same seed gives byte-identical
files (gzip headers carry no mtime or name). Databases are written, and
their files checksummed, in parallel worker processes; each database has
its own seeded generator. The checksums come from this
file's own BSD ``sum`` so a checksum bug in the program under test cannot
agree with itself.
"""

from __future__ import annotations

import gzip
import io
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

ZERO_DATE = "0000-00-00 00:00:00"
NULL_SHARE = 0.02

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "shiny", "rusty", "green", "blue", "quiet"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "MEDIUM", "LARGE", "SMALL"]

#: (table, column, MySQL type). Type choices follow what real Ensembl
#: dumps carry: unsigned keys, DOUBLE money, DATETIME dates, ENUM flags.
SCHEMA: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int(10)"), ("r_name", "varchar(25)")],
    "nation": [
        ("n_nationkey", "int(10)"),
        ("n_name", "varchar(25)"),
        ("n_regionkey", "int(10)"),
    ],
    "customer": [
        ("c_custkey", "bigint(20)"),
        ("c_name", "varchar(25)"),
        ("c_nationkey", "int(10)"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "varchar(10)"),
    ],
    "supplier": [
        ("s_suppkey", "bigint(20)"),
        ("s_name", "varchar(25)"),
        ("s_nationkey", "int(10)"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint(20)"),
        ("p_name", "varchar(55)"),
        ("p_brand", "varchar(10)"),
        ("p_type", "varchar(25)"),
        ("p_size", "int(10)"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint(20)"),
        ("o_custkey", "bigint(20)"),
        ("o_orderstatus", "enum('F','O','P')"),
        ("o_totalprice", "double"),
        ("o_orderdate", "datetime"),
        ("o_orderpriority", "varchar(15)"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint(20)"),
        ("l_partkey", "bigint(20)"),
        ("l_suppkey", "bigint(20)"),
        ("l_linenumber", "int(10)"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "enum('A','N','R')"),
        ("l_linestatus", "enum('F','O')"),
        ("l_shipdate", "datetime"),
    ],
}

_VIEW = (
    "select `o`.`o_orderkey` AS `o_orderkey`,count(0) AS `n_lines` "
    "from (`orders` `o` join `lineitem` `l` on((`l`.`l_orderkey` = `o`.`o_orderkey`))) "
    "group by `o`.`o_orderkey`"
)

_EPOCH_1992 = int(np.datetime64("1992-01-01", "s").astype(np.int64))
_DAYS = 9 * 365  # 1992 .. 2000


def bsd_sum(data: bytes) -> tuple[int, int]:
    """BSD ``sum`` of a byte string: (16-bit rotating checksum, 1 KiB blocks)."""
    c = 0
    for b in data:
        c = ((c >> 1) + ((c & 1) << 15) + b) & 0xFFFF
    return c, (len(data) + 1023) // 1024


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Doubles with two decimals, drawn as whole cents (exact in text)."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    secs = _EPOCH_1992 + rng.integers(0, _DAYS, n) * 86400
    return pa.array(secs * 1_000_000, pa.int64()).cast(pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H-shaped tables at scale factor ``sf`` (sf 1 would be
    150 k customers, 1.5 M orders and about 6 M line items)."""
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(np.char.add(adj, " widget")),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))
            ),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, 900, 2000, n_part),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _dates(rng, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000, 400_000, n_ord),
            "o_orderdate": odate,
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    l_ord = np.repeat(ok, lines)
    n_li = len(l_ord)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = odate.cast(pa.int64()).to_numpy()[l_ord] + rng.integers(1, 122, n_li) * 86_400_000_000
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_ord,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            # whole hundreds: every price x discount x tax product keeps at
            # most two decimals, so ROUND(SUM(...), 2) cannot tip on the
            # engine's summation order
            "l_extendedprice": qty * rng.integers(9, 21, n_li) * 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(ship).cast(pa.timestamp("us")),
        }
    )
    return t


def with_nulls(tables: dict[str, pa.Table], rng: np.random.Generator) -> dict[str, pa.Table]:
    """NULL out NULL_SHARE of two nullable text columns (dumped as ``\\N``)."""
    out = dict(tables)
    for table, col in (("customer", "c_mktsegment"), ("orders", "o_orderpriority")):
        t = out[table]
        mask = pa.array(rng.random(t.num_rows) < NULL_SHARE)
        i = t.schema.get_field_index(col)
        nulled = pc.if_else(mask, pa.scalar(None, pa.string()), t.column(col))
        out[table] = t.set_column(i, col, nulled)
    return out


def ddl(database: str) -> str:
    """mysqldump-style DDL: one CREATE TABLE per table plus a view, which
    mysqldump emits twice (a stand-in table, then the real view)."""
    out = [
        f"-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n-- Host: mirror    Database: {database}\n",
        "/*!40101 SET NAMES utf8mb4 */;\n",
    ]
    for table, cols in SCHEMA.items():
        body = ",\n".join(f"  `{c}` {t} DEFAULT NULL" for c, t in cols)
        out.append(
            f"DROP TABLE IF EXISTS `{table}`;\nCREATE TABLE `{table}` (\n{body},\n"
            f"  KEY `{cols[0][0]}_idx` (`{cols[0][0]}`)\n) ENGINE=MyISAM DEFAULT CHARSET=latin1;\n\n"
        )
    out.append(
        "/*!50001 CREATE TABLE `order_summary` (\n  `o_orderkey` tinyint NOT NULL,\n"
        "  `n_lines` tinyint NOT NULL\n) ENGINE=MyISAM */;\n"
        "/*!50001 CREATE ALGORITHM=UNDEFINED */\n"
        "/*!50013 DEFINER=`ensro`@`%` SQL SECURITY DEFINER */\n"
        f"/*!50001 VIEW `order_summary` AS {_VIEW} */;\n"
    )
    return "".join(out)


def _gzip(data: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0, compresslevel=1) as f:
        f.write(data)
    return buf.getvalue()


def _tsv(t: pa.Table, zero_dates: np.ndarray | None) -> bytes:
    """LOAD DATA text: tab separated, ``\\N`` for NULL, DATETIME as text,
    optionally with MySQL zero-dates in the rows ``zero_dates`` marks."""
    cols = []
    for name, col in zip(t.column_names, t.columns):
        if pa.types.is_timestamp(col.type):
            # format each distinct value once: dates are whole days
            distinct = pc.unique(col)
            col = pc.take(pc.strftime(distinct, "%Y-%m-%d %H:%M:%S"), pc.index_in(col, distinct))
            if zero_dates is not None:
                col = pc.if_else(pa.array(zero_dates), ZERO_DATE, col)
        if col.null_count:
            col = pc.fill_null(col.cast(pa.string()), "\\N")
        cols.append(col)
    buf = io.BytesIO()
    pacsv.write_csv(
        pa.table(cols, names=t.column_names),
        buf,
        pacsv.WriteOptions(include_header=False, delimiter="\t", quoting_style="none"),
    )
    return buf.getvalue()


def write_dump(
    root: str,
    database: str,
    tables: dict[str, pa.Table],
    parts: dict[str, int],
    rng: np.random.Generator,
    zero_date_share: float = 0.0,
) -> tuple[dict[str, pa.Table], list[str]]:
    """Write one dump directory's DDL and data files; returns the tables
    as the mirror must land them (zero-dates become NULL) and the file
    names, sorted. ``write_checksums`` adds the manifest."""
    d = os.path.join(root, database)
    os.makedirs(d, exist_ok=True)
    files = {f"{database}.sql.gz": _gzip(ddl(database).encode())}
    landed = dict(tables)
    for table, t in tables.items():
        zero = None
        if zero_date_share and table == "orders":
            zero = rng.random(t.num_rows) < zero_date_share
            i = t.schema.get_field_index("o_orderdate")
            nulled = pc.if_else(pa.array(zero), pa.scalar(None, t.schema.field(i).type), t.column(i))
            landed[table] = t.set_column(i, "o_orderdate", nulled)
        n = parts.get(table, 1)
        if n == 1:
            files[f"{table}.txt.gz"] = _gzip(_tsv(t, zero))
            continue
        bounds = np.linspace(0, t.num_rows, n + 1).astype(int)
        for p in range(n):
            lo, hi = bounds[p], bounds[p + 1]
            files[f"{table}.{p + 1:04d}.txt.gz"] = _gzip(
                _tsv(t.slice(lo, hi - lo), None if zero is None else zero[lo:hi])
            )
    for fn, data in files.items():
        with open(os.path.join(d, fn), "wb") as f:
            f.write(data)
    return landed, sorted(files)


def file_sum(path: str) -> tuple[int, int]:
    with open(path, "rb") as f:
        return bsd_sum(f.read())


def write_checksums(
    d: str,
    files: list[str],
    sums: list[tuple[int, int]],
    gz_manifest: bool = False,
    corrupt: tuple[int, int] | None = None,
) -> None:
    """Write the ``CHECKSUMS`` manifest (``CHECKSUMS.gz`` if asked) of a
    dump directory; ``corrupt = (file index, offset)`` shifts one sum."""
    lines = []
    for i, (fn, (s, blocks)) in enumerate(zip(files, sums)):
        if corrupt is not None and i == corrupt[0]:
            s = (s + corrupt[1]) % 65536
        lines.append(f"{s:05d} {blocks:5d} {fn}\n")
    manifest = "".join(lines).encode()
    with open(os.path.join(d, "CHECKSUMS.gz" if gz_manifest else "CHECKSUMS"), "wb") as f:
        f.write(_gzip(manifest) if gz_manifest else manifest)


def digest(t: pa.Table) -> tuple[int, str]:
    """(rows, order-independent content hash) of a table: the sum of
    per-row hashes over columns in name order, with integers widened,
    timestamps as epoch microseconds and strings as text."""
    cols = {}
    for name in sorted(t.column_names):
        col = t.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        elif pa.types.is_large_string(col.type):
            col = col.cast(pa.string())
        cols[name] = col
    df = pa.table(cols).to_pandas()
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return t.num_rows, f"{int(h.sum(dtype=np.uint64)):016x}"


SPECIES = [
    "homo_sapiens",
    "mus_musculus",
    "danio_rerio",
    "rattus_norvegicus",
    "gallus_gallus",
    "sus_scrofa",
    "bos_taurus",
    "ovis_aries",
    "equus_caballus",
    "canis_lupus_familiaris",
]
GROUPS = ["core", "variation", "funcgen", "otherfeatures", "rnaseq", "cdna"]
MARTS = ["ensembl", "genomic_features", "ontology", "sequence", "snp", "regulation"]

#: Priority configuration passed to ``mirror``: with it the names cover
#: every branch (score 0..3, where homo_sapiens_*_variation_* scores 3).
PRIORITY_SPECIES = ("homo_sapiens", "mus_musculus")
PRIORITY_GROUPS = ("core", "variation")


def priority_branch(name: str) -> int:
    """The benchmark's own reading of the routing rule: +1 for a priority
    species prefix, +1 for a priority group infix, +1 for human
    variation; branch = 2 + score."""
    score = int(name.startswith(PRIORITY_SPECIES))
    score += int(any(f"_{g}_" in name for g in PRIORITY_GROUPS))
    score += int(name.startswith("homo_sapiens") and "_variation_" in name)
    return 2 + score


def database_names(rng: np.random.Generator, n_ensembl: int, n_mart: int) -> tuple[list[str], list[str]]:
    """Seeded, distinct Ensembl-style names; the first four cover the
    four priority branches, the rest are random species/group pairs."""
    release = int(rng.integers(100, 116))
    forced = [("homo_sapiens", "variation"), ("homo_sapiens", "core"), ("danio_rerio", "core"), ("bos_taurus", "funcgen")]
    pool = [(s, g) for s in SPECIES for g in GROUPS if (s, g) not in forced]
    pick = rng.permutation(len(pool))[: max(n_ensembl - len(forced), 0)]
    pairs = (forced + [pool[i] for i in pick])[:n_ensembl]
    ensembl = [f"{s}_{g}_{release}_{int(rng.integers(1, 40))}" for s, g in pairs]
    marts = [f"{m}_mart_{release}" for m in rng.permutation(MARTS)[:n_mart]]
    return ensembl, marts


def _build_database(job: tuple) -> tuple[dict, list[str], tuple | None, dict | None]:
    """Write one database's data files: (expected digests, file names,
    the corrupt manifest line if any, landed tables if asked for)."""
    work_dir, seed, k, name, sf, parts, zero_date_share, corrupt, keep = job
    db_rng = np.random.default_rng([seed, k])
    tables = with_nulls(tpch_tables(db_rng, sf), db_rng)
    landed, files = write_dump(work_dir, name, tables, parts, db_rng, zero_date_share)
    expected = {t: list(digest(tb)) for t, tb in landed.items()}
    bad = (int(db_rng.integers(0, len(files))), 1 + int(db_rng.integers(0, 1000))) if corrupt else None
    return expected, files, bad, landed if keep else None


def build_release(
    work_dir: str,
    seed: int,
    n_ensembl: int,
    n_mart: int,
    sf: float,
    parts: dict[str, int],
    zero_date_share: float,
    corrupt: bool,
    keep: int = 0,
) -> tuple[dict, dict[str, dict[str, pa.Table]]]:
    """Write a release of dump databases under ``work_dir``, in worker
    processes: the databases' files first, then every file's checksum.

    Returns (manifest, landed tables of the first ``keep`` Ensembl
    databases). The manifest records names, the corrupt database, the
    CHECKSUMS.gz database, per-table expected (rows, hash) and the input
    dump bytes."""
    rng = np.random.default_rng(seed)
    ensembl, marts = database_names(rng, n_ensembl, n_mart)
    names = [str(n) for n in rng.permutation(ensembl + marts)]
    bad = str(rng.choice(ensembl)) if corrupt else None
    gz = str(rng.choice([n for n in ensembl if n != bad]))
    jobs = [
        (work_dir, seed, k, name, sf, parts, zero_date_share, name == bad, name in ensembl[:keep])
        for k, name in enumerate(names)
    ]
    workers = min(len(os.sched_getaffinity(0)), 4)
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as pool:
        built = list(pool.map(_build_database, jobs))
        paths = [os.path.join(work_dir, n, f) for n, b in zip(names, built) for f in b[1]]
        sums = dict(zip(paths, pool.map(file_sum, paths)))
    for n, (_, files, corrupt_line, _) in zip(names, built):
        d = os.path.join(work_dir, n)
        write_checksums(d, files, [sums[os.path.join(d, f)] for f in files], n == gz, corrupt_line)
    manifest = {
        "ensembl": ensembl,
        "marts": marts,
        "corrupt": bad,
        "checksums_gz": gz,
        "expected": {n: b[0] for n, b in zip(names, built)},
        "input_bytes": {
            n: sum(e.stat().st_size for e in os.scandir(os.path.join(work_dir, n)) if e.is_file())
            for n in names
        },
    }
    return manifest, {n: b[3] for n, b in zip(names, built) if b[3] is not None}


#: Words of the generated documents: 3 to 8 letters, so a document's mean
#: token length always lies inside the quality filter's bounds.
_SYLLABLES = ["ba", "ke", "lo", "mi", "nu", "ra", "si", "to", "ve", "zu", "pha", "dre", "qui", "str"]


def vocabulary(rng: np.random.Generator, size: int = 400) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), k))
        if 3 <= len(w) <= 8:
            words.add(w)
    return sorted(words)


LANGS = ["en", "de", "es", "fr", "zh"]


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents ``(doc_id, text, lang)`` with ids in seeded ingest
    order. Most are fresh word sequences; the rest repeat an earlier
    document: 6 % as an exact duplicate after normalization (case and
    whitespace changed), 10 % with the first word dropped (a near
    duplicate), 2 % with the first word dropped but another ``lang``
    (near-dup detection is scoped to a language), and 6 % are
    low-quality (few distinct words, or too short)."""
    rng = np.random.default_rng([seed, 7])
    vocab = vocabulary(rng)
    texts: list[str] = []
    langs: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        k = kinds[i]
        if i >= 20 and k < 0.18:
            j = int(rng.integers(0, i))
            src, lang = texts[j], langs[j]
            if k < 0.06:
                words = src.split()
                text = "  ".join(w.upper() if p % 3 == 0 else w for p, w in enumerate(words)) + " "
            else:
                text = src.split(" ", 1)[1] if " " in src else src
                if k >= 0.16:
                    lang = LANGS[(LANGS.index(lang) + 1) % len(LANGS)]
        elif k > 0.94:
            # too short and too repetitive: fails two of the three terms
            text = " ".join(str(w) for w in rng.choice(vocab[:2], int(rng.integers(6, 14))))
            lang = str(rng.choice(LANGS))
        else:
            text = " ".join(str(w) for w in rng.choice(vocab, int(rng.integers(18, 70))))
            lang = str(rng.choice(LANGS))
        texts.append(text)
        langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
    })
