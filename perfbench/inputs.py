"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy + pyarrow: inputs are made before the
Spark session starts, so input generation never shares the JVM with
the measured program and costs well under a second at benchmark sizes.

Every random stream is ``numpy.random.default_rng([seed, salt])``: the
workload seed enters every salt, so one seed gives identical bytes and
another seed gives a different corpus of the same shape.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: BLAST-hit JSONL schema the text-reuse DAG ingests (FIXTURES.md §1)
HIT_SCHEMA = (
    "text1_id string, text2_id string, text1_text_start int, text1_text_end int, "
    "text2_text_start int, text2_text_end int, align_length int, "
    "positives_percent double"
)

NEWS_SCHEMA = "article_id string, issue_start_date date, newspaper_title string"


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _write(table: pa.Table, path: str) -> None:
    # one row group per file: the layout of the shipped testdata
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1), compression="zstd")


# ---------------------------------------------------------------------------
# text-reuse DAG corpus (FIXTURES.md schemas)
# ---------------------------------------------------------------------------


def _text_names(i: np.ndarray) -> list[str]:
    """The three reference id formats by ``i % 3``: ECCO 10-digit,
    EEBO dotted two-part, BL-newspaper."""
    out = []
    for v in i.tolist():
        c = v % 3
        if c == 0:
            out.append("%010d" % (v + 287900000))
        elif c == 1:
            out.append("A%05d.main_body_%d" % (v, v % 7))
        else:
            out.append("NICNF%04d-C00000-N%07d-00020-001" % (v % 10000, v))
    return out


def dag_corpus(out_dir: str, seed: int, n_docs: int, n_hits: int, members: int) -> None:
    """Reference-shaped corpus for the text-reuse DAG.

    Same schemas and branch coverage as ``examples/pipeline_scale.generate``:
    hits have family structure (each hit links two of the ~6 documents
    of a family window, families overlap so clusters chain), span
    jitter classes cover every defrag-threshold branch (exact repeat,
    <10, 10-180, >180 chars, spans <40 chars, exactly adjacent spans),
    and the metadata fixtures carry NULL estc ids, sentinel ECCO dates,
    all four EEBO date shapes, ghost NULL-id rows, duplicate title rows
    and NULL work ids."""
    os.makedirs(out_dir, exist_ok=True)
    i = np.arange(n_docs, dtype=np.int64)
    coll = i % 3
    names = np.array(_text_names(i), dtype=object)
    doc_len = 5000 + _rng(seed, 1).integers(0, 15000, n_docs)

    # ---- BLAST hits with family structure ------------------------------
    n_fam = max(n_docs // 4, 1)
    f = _rng(seed, 10).integers(0, n_fam, n_hits)
    m1 = _rng(seed, 11).integers(0, 6, n_hits)
    m2 = _rng(seed, 12).integers(0, 6, n_hits)
    m2 = np.where(m2 == m1, (m2 + 1) % 6, m2)
    d1 = (f * 4 + m1) % n_docs
    d2 = (f * 4 + m2) % n_docs
    sbase = 200 + (f % 40) * 100
    jc = _rng(seed, 13).integers(0, 10, n_hits)
    lenc = _rng(seed, 15).integers(0, 10, n_hits)
    # length is a function of (family, length class), not of the hit, so
    # jitter-0 hits of one family repeat (doc, start, end) exactly and
    # the orig_pieces dedup has real work to do
    short = _rng(seed, 16).integers(0, 20, (n_fam, 10))
    long_ = _rng(seed, 17).integers(0, 360, (n_fam, 10))
    ln = np.where(lenc == 0, 20 + short[f, lenc], 40 + long_[f, lenc])

    def jitter(salt: int) -> np.ndarray:
        r = _rng(seed, salt).integers(0, 1 << 30, n_hits)
        return np.select(
            [jc <= 3, jc <= 6, jc <= 8],
            [0, 1 + r % 9, 15 + r % 156],
            200 + r % 200,
        )

    # class 9 places the span exactly adjacent to the family base block
    # (the gaps-and-islands ``previous_end + 1 >= start`` edge)
    s1 = np.where(jc == 9, sbase + ln, sbase + jitter(18))
    s2 = sbase + jitter(19)
    pos = 85.0 + _rng(seed, 20).integers(0, 150, n_hits) / 10.0
    lines = [
        json.dumps(
            {
                "text1_id": names[a], "text2_id": names[b],
                "text1_text_start": int(x1), "text1_text_end": int(x1 + n),
                "text2_text_start": int(x2), "text2_text_end": int(x2 + n),
                "align_length": int(n), "positives_percent": float(p),
            }
        )
        for a, b, x1, x2, n, p in zip(d1, d2, s1, s2, ln, pos)
    ]
    per = -(-n_hits // members)
    with zipfile.ZipFile(os.path.join(out_dir, "blast_hits.zip"), "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for k in range(members):
            # fixed member timestamps: the same seed gives the same bytes
            member = zipfile.ZipInfo(f"tr_output_{k:03d}.jsonl", date_time=(2000, 1, 1, 0, 0, 0))
            zf.writestr(member, "\n".join(lines[k * per:(k + 1) * per]) + "\n", zipfile.ZIP_DEFLATED, 1)

    # ---- metadata fixtures (FIXTURES.md §3-§7) -------------------------
    estc_key = np.array(["T%06d" % (v // 6) for v in i.tolist()], dtype=object)
    estc_or_null = np.where(i % 17 == 0, None, estc_key)

    e = coll == 0
    ecco_date = np.where(i % 23 == 0, 10000101.0, ((1700 + i % 99) * 10000 + 101).astype(float))
    _write(
        pa.table({
            "ecco_id": pa.array(names[e], pa.string()),
            "estc_id": pa.array(estc_or_null[e], pa.string()),
            "ecco_date_start": pa.array(ecco_date[e], pa.float64()),
            "ecco_full_title": pa.array(["Ecco Title %d" % v for v in i[e].tolist()], pa.string()),
        }),
        os.path.join(out_dir, "ecco_core.parquet"),
    )

    b = coll == 1
    shape = _rng(seed, 30).integers(0, 4, n_docs)
    yr = 1600 + i % 150
    eebo_date = np.array(
        [
            [str(y), "-%d" % y, "%d-%d" % (y, y + 7), "April 24, %d" % y][s]
            for y, s in zip(yr.tolist(), shape.tolist())
        ],
        dtype=object,
    )
    tcp = np.array([n.split(".", 1)[0] for n in names], dtype=object)
    ghost = b & (i % 500 == 0)  # NULL-id rows that must be dropped
    dup = b & (i % 50 == 0)  # duplicate mapping rows with another title
    _write(
        pa.table({
            "eebo_tcp_id": pa.array(
                list(tcp[b]) + [None] * int(ghost.sum()) + list(tcp[dup]), pa.string()
            ),
            "estc_id": pa.array(
                list(estc_or_null[b]) + list(estc_key[ghost]) + list(estc_or_null[dup]), pa.string()
            ),
            "eebo_tls_publication_date": pa.array(
                list(eebo_date[b]) + ["1700"] * int(ghost.sum()) + list(eebo_date[dup]), pa.string()
            ),
            "eebo_tls_title": pa.array(
                ["Eebo Title %d" % v for v in i[b].tolist()]
                + ["Ghost"] * int(ghost.sum())
                + ["Eebo Title %d variant" % v for v in i[dup].tolist()],
                pa.string(),
            ),
        }),
        os.path.join(out_dir, "eebo_core.parquet"),
    )

    n = coll == 2
    day0 = _dt.date(1732, 1, 1)
    offs = _rng(seed, 31).integers(0, 3650, n_docs)
    news_dir = os.path.join(out_dir, "bl_newspapers_meta_csv")
    os.makedirs(news_dir, exist_ok=True)
    pacsv.write_csv(
        pa.table({
            "article_id": pa.array(names[n], pa.string()),
            "issue_start_date": pa.array(
                [(day0 + _dt.timedelta(days=int(o))).isoformat() for o in offs[n]], pa.string()
            ),
            "newspaper_title": pa.array(["Daily Courant %d" % (v % 20) for v in i[n].tolist()], pa.string()),
        }),
        os.path.join(news_dir, "part-00000.csv"),
        write_options=pacsv.WriteOptions(quoting_style="none"),
    )

    j = np.arange(n_docs // 6 + 2)
    _write(
        pa.table({
            "estc_id": pa.array(["T%06d" % v for v in j.tolist()], pa.string()),
            "work_id": pa.array(
                [None if v % 13 == 0 else "W%06d" % (v // 3) for v in j.tolist()], pa.string()
            ),
            "publication_year": pa.array((1600.0 + j % 250).astype(float), pa.float64()),
        }),
        os.path.join(out_dir, "estc_core.parquet"),
    )

    # raw texts: only LENGTH feeds the pipeline (coverage denominators)
    filler = "lorem ipsum dolor sit amet consectetur " * 600
    _write(
        pa.table({
            "doc_id": pa.array(names, pa.string()),
            "text": pa.array([filler[:k] for k in doc_len.tolist()], pa.string()),
            "collection": pa.array([("ecco", "eebo", "newspapers")[c] for c in coll.tolist()], pa.string()),
            "text_loc": pa.array(["synthetic://perfbench"] * n_docs, pa.string()),
        }),
        os.path.join(out_dir, "textreuse_sources.parquet"),
    )


# ---------------------------------------------------------------------------
# headline tables (the TPC-H-ish star + events/documents/embeddings that
# the registry queries read; same schemas and value domains as TESTDATA.md)
# ---------------------------------------------------------------------------

#: rows per table at scale 1.0 (the sf0.01 testdata row counts)
HEADLINE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: _dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"), pa.timestamp("us"))


def headline_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the ten headline tables as ``<name>.parquet``, one row group
    each, with ``scale`` times the sf0.01 testdata row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {t: max(int(n * scale), 10) for t, n in HEADLINE_ROWS.items()}
    r = lambda salt: _rng(seed, 100 + salt)  # noqa: E731
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": ["NATION_%d" % k for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }),
    }
    nc, ns, np_, no, nl = (rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": ["Customer#%09d" % k for k in range(nc)],
        "c_nationkey": pa.array(r(1).integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r(2), -999.99, 9999.99, nc),
        "c_mktsegment": r(3).choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": ["Supplier#%09d" % k for k in range(ns)],
        "s_nationkey": pa.array(r(4).integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r(5), -999.99, 9999.99, ns),
    })
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    pk = np.arange(np_)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [adj[a] + " " + noun[b] for a, b in zip(r(6).integers(0, 8, np_), r(7).integers(0, 8, np_))],
        "p_brand": ["Brand#%d" % k for k in r(8).integers(1, 26, np_)],
        "p_type": r(9).choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_),
        "p_size": pa.array(r(10).integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r(11).integers(0, nc, no), pa.int64()),
        "o_orderstatus": r(12).choice(["F", "O", "P"], no),
        "o_totalprice": _money(r(13), 1000.0, 500000.0, no),
        "o_orderdate": _days(r(14), _dt.date(1995, 1, 1), 2405, no),
        "o_orderpriority": r(15).choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r(16).integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r(17).integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(r(18).integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r(19).integers(1, 8, nl), pa.int32()),
        "l_quantity": r(20).integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(r(21), 900.0, 105000.0, nl),
        "l_discount": np.round(r(22).uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(r(23).uniform(0.0, 0.08, nl), 2),
        "l_returnflag": r(24).choice(["A", "N", "R"], nl),
        "l_linestatus": r(25).choice(["F", "O"], nl),
        "l_shipdate": _days(r(26), _dt.date(1995, 1, 2), 2499, nl),
    })
    ne = rows["events"]
    users = max(ne * 15 // 1000, 5)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(r(27).integers(0, 30 * 86400 * 10**6, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r(28).integers(0, users, ne), pa.int64()),
        "event_type": r(29).choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(r(30).exponential(50.0, ne), 2),
        "props": ['{"k": %d}' % k for k in r(31).integers(0, 100, ne)],
    })
    nd = rows["documents"]
    lens = r(32).integers(10, 100, nd)
    words = r(33).integers(0, len(_VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens.tolist():
        texts.append(" ".join(_VOCAB[w] for w in words[at:at + k]))
        at += k
    # ~5% near-duplicates: an earlier document plus a marker word, the
    # pairs the MinHash / token-span queries exist to find
    src = r(34).integers(0, nd, nd)
    for k in np.flatnonzero(r(35).random(nd) < 0.05).tolist():
        texts[k] = texts[src[k] % max(k, 1)] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": r(36).choice(["en", "de", "es", "fr", "zh"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": ["src%d" % (k % 20) for k in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = rows["embeddings"]
    labels = r(37).integers(0, 10, nv)
    centers = r(38).normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + r(39).normal(0.0, 0.8, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
