"""Seeded input generators. The same seed always gives byte-identical
inputs; the program under test only ever sees the files written here.

* :func:`write_fixture_tables` — the ten fixture tables (TPC-H-ish star
  schema plus ``events``/``documents``/``embeddings``) at a scale
  factor, with the column types, value domains and row counts of the
  repository's parquet fixtures (see FIXTURES.md / TESTDATA.md).
* :func:`write_x4_corpus` — a 4x derivation of the corpus tables using
  ``tools/make_sfup.py``'s scale model: copy k re-tags every token so
  shingle sets across copies are disjoint, ids shift into disjoint
  ranges, and embeddings get small per-copy noise. The copy tags and
  the noise are keyed by the seed.
* :func:`write_tsv_partitions` — reference-native Hive CLI TSV dumps,
  one ``ds`` partition each, split into several files, carrying the
  reference's edge rows (``table.`` header prefixes, ``NULL`` literals,
  header echoes, quotes and tabs inside values).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05  # share of documents that re-emit another doc + " dup"
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_SHIP_EPOCH = dt.datetime(1995, 1, 2)
_EVENT_EPOCH = dt.datetime(2024, 1, 1)


def table_rngs(seed: int, names: list[str]) -> dict[str, np.random.Generator]:
    """One independent stream per table, so adding a table or changing
    one table's recipe never shifts another table's values."""
    children = np.random.SeedSequence(seed).spawn(len(names))
    return {n: np.random.default_rng(c) for n, c in zip(names, children)}


def _ts(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def make_documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(vocab[words], cuts)]
    dup_ids = np.flatnonzero(rng.random(n) < DUP_SHARE)
    originals = rng.integers(0, n, len(dup_ids))
    for i, j in zip(dup_ids, originals):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def make_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_fixture_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """All ten fixture tables at scale ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    names = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
    rng = table_rngs(seed, names)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = int(15_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    r = rng["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })
    r = rng["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    r = rng["part"]
    keys = np.arange(n_part, dtype=np.int64)
    names_ = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, names_, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    r = rng["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(r, ORDER_STATUS, n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_ORDER_EPOCH, r.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })
    r = rng["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _ts(_SHIP_EPOCH, r.integers(0, 2499, n_li) * _DAY_US),
    })
    r = rng["events"]
    span_us = 30 * _DAY_US
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_EVENT_EPOCH, np.sort(r.integers(0, span_us, n_ev))),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })
    tables["documents"] = make_documents(rng["documents"], n_docs)
    tables["embeddings"] = make_embeddings(rng["embeddings"], n_vec)
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Only the corpus tables (``documents``, ``embeddings``), drawn
    exactly as :func:`write_fixture_tables` draws them."""
    os.makedirs(out_dir, exist_ok=True)
    rng = table_rngs(seed, ["documents", "embeddings"])
    _write(out_dir, "documents", make_documents(rng["documents"], n_docs))
    _write(out_dir, "embeddings", make_embeddings(rng["embeddings"], n_vecs))


def copy_tag(seed: int, k: int) -> str:
    """Per-copy token suffix; ``make_sfup`` uses ``q{k}``, here the tag
    also carries the seed so two seeds never share a derived corpus."""
    return "q" + hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:6]


def write_x4_corpus(
    base_dir: str, out_dir: str, seed: int, factor: int = 4
) -> dict[str, int]:
    """``factor``-fold derivation of ``documents`` and ``embeddings``
    (the only tables the corpus operators read)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].to_pylist()
    off = int(ids.max()) + 1
    parts = [docs]
    for k in range(1, factor):
        tag = copy_tag(seed, k)
        tagged = [" ".join(w + tag for w in t.split(" ")) for t in texts]
        parts.append(pa.table({
            "doc_id": pa.array(ids + k * off),
            "text": pa.array(tagged, pa.string()),
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array(np.array([len(t) for t in tagged], np.int64)),
        }))
    out_docs = pa.concat_tables(parts)
    _write(out_dir, "documents", out_docs)

    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vec_ids = emb["vec_id"].to_numpy()
    x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    voff = int(vec_ids.max()) + 1
    rng = np.random.default_rng(np.random.SeedSequence([seed, factor]))
    ids_out, vecs_out, labels_out = [vec_ids], [x], [emb["label"].to_numpy()]
    for k in range(1, factor):
        ids_out.append(vec_ids + k * voff)
        vecs_out.append(x + rng.uniform(-0.01, 0.01, x.shape))
        labels_out.append(emb["label"].to_numpy())
    allx = np.concatenate(vecs_out).astype(np.float32)
    n = allx.shape[0]
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.concatenate(ids_out).astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(allx.ravel())),
        "label": pa.array(np.concatenate(labels_out).astype(np.int32)),
    }))
    return {"documents": out_docs.num_rows, "embeddings": n}


# --- reference-native TSV dumps -------------------------------------------

TSV_TABLE = "ods_events"
TSV_COLUMNS = ["event_id", "user_id", "event_type", "amount", "note", "city"]
CITIES = ["Beijing", "Shanghai", "Shenzhen", "Hangzhou", "Chengdu", "NULLville"]


def tsv_partition_rows(seed: int, ds: str, n_rows: int) -> list[list[str]]:
    """Raw data cells of one partition, as written to the dump."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, int(ds)]))
    vocab = np.array(VOCAB, dtype=object)
    words = vocab[rng.integers(0, len(VOCAB), (n_rows, 3))]
    notes = [" ".join(w) for w in words]
    # free text: some values quoted mid-field, some with an apostrophe,
    # some fully quoted around an embedded tab
    for i, roll in enumerate(rng.random(n_rows)):
        if roll < 0.05:
            notes[i] = f'say "{notes[i]}"'
        elif roll < 0.08:
            notes[i] = f"it's {notes[i]}"
        elif roll < 0.10:
            notes[i] = f'"{notes[i]}\t{notes[i]}"'
    cols = [
        [f"{ds}-{i:07d}" for i in range(n_rows)],
        [str(u) for u in rng.integers(0, 50_000, n_rows)],
        list(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_rows)]),
        [f"{a:.2f}" for a in rng.exponential(50.0, n_rows)],
        notes,
        list(np.array(CITIES, dtype=object)[rng.integers(0, len(CITIES), n_rows)]),
    ]
    # the dump's SQL-null literal, never on the key column
    nulls = rng.random((len(cols) - 1, n_rows)) < 0.02
    for c, mask in enumerate(nulls, start=1):
        for i in np.flatnonzero(mask):
            cols[c][i] = "NULL"
    return [list(r) for r in zip(*cols)]


def decoded(value: str) -> str | None:
    """What a data cell means once read: the literal ``NULL`` is SQL
    null, and a fully double-quoted field drops its quotes."""
    if value == "NULL":
        return None
    if len(value) >= 2 and value[0] == '"' and value[-1] == '"':
        return value[1:-1]
    return value


def write_tsv_partitions(
    out_dir: str, seed: int, partitions: list[str], n_rows: int, n_files: int
) -> dict[str, list[list[str | None]]]:
    """One directory per ``ds``, each split into ``n_files`` TSV files
    with a ``table.``-prefixed header line and a mid-file header echo.
    Returns the decoded rows per ``ds`` (the check's ground truth)."""
    header = "\t".join(f"{TSV_TABLE}.{c}" for c in TSV_COLUMNS)
    truth: dict[str, list[list[str | None]]] = {}
    for ds in partitions:
        rows = tsv_partition_rows(seed, ds, n_rows)
        d = os.path.join(out_dir, f"ds={ds}")
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
        for f in range(n_files):
            chunk = rows[bounds[f]:bounds[f + 1]]
            mid = len(chunk) // 2
            lines = [header]
            lines += ["\t".join(r) for r in chunk[:mid]]
            lines.append(header)  # hive CLI header echo
            lines += ["\t".join(r) for r in chunk[mid:]]
            with open(os.path.join(d, f"part-{f:05d}.tsv"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        truth[ds] = [[decoded(v) for v in r] for r in rows]
    return truth


def write_etl_inputs(
    out_dir: str, truth_dir: str, seed: int, sizes: dict[str, int],
    n_files: int, columns: list[str],
) -> None:
    """The dumps of :func:`write_tsv_partitions`, ``sizes[ds]`` rows for
    each ``ds``, and each partition's decoded rows as
    ``truth-<ds>.parquet`` under ``truth_dir``, named by ``columns``."""
    for ds, n in sizes.items():
        truth = write_tsv_partitions(out_dir, seed, [ds], n, n_files)
        cols = list(zip(*truth[ds]))
        pq.write_table(
            pa.table({c: pa.array(v, pa.string()) for c, v in zip(columns, cols)}),
            os.path.join(truth_dir, f"truth-{ds}.parquet"))


def write_llm_inputs(base_dir: str, out_dir: str, seed: int, n_docs: int) -> None:
    write_corpus(base_dir, seed, n_docs, n_docs)
    write_x4_corpus(base_dir, out_dir, seed, factor=4)


if __name__ == "__main__":
    # python3 inputs.py GENERATOR JSON_ARGS: one generator call, in a
    # process of its own
    import json
    import sys

    globals()[sys.argv[1]](*json.loads(sys.argv[2]))
