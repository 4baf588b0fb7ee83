"""Seeded input generator for the perfbench workloads.

Writes the ten engine tables (`Tables.all`) as single-file parquet with the
column types of the engine's reference fixture (pyarrow schemas below),
generated from a seed alone, so a run needs nothing outside its checkout.

Per workload, one table may be scaled up:

* ``orders`` by a row multiplier (the filing corpus is rendered from it);
* ``documents`` by replication: replica ``r`` gets ``doc_id + r * max_id``
  and a seed-chosen pure-``[a-z]`` suffix on every word. Suffixes are
  distinct and of equal length, so replicas are disjoint in every hash
  space (shingles, n-grams, lines) and tokenizer rules are unchanged.

Every other table is generated at the base size. Row order is permuted per
table by the seed. ``python3 perfbench/gen.py --self-test`` checks
determinism, row counts and schemas.
"""
import hashlib
import string
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}

# Base row counts: a tenth of the reference fixture's sf0.1 tables, except
# the two dimension tables, which keep their fixed size.
BASE = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 200}

# Per-workload scaling: orders multiplier and document replicas.
WORKLOADS = {
    "holdings_etl": {"orders_x": 2, "doc_replicas": 1},
    "corpus_prep": {"orders_x": 1, "doc_replicas": 8},
    "catalog_mix": {"orders_x": 1, "doc_replicas": 1},
}

VOCAB = ("query row stream the batch sort value hash filter big data part column "
         "order scan a slow agg key window table merge vector join spark line "
         "small fast group customer").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SUFFIX_LEN = 3
DIM = 64


def epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def expected_rows(workload: str) -> dict:
    w = WORKLOADS[workload]
    rows = dict(BASE)
    rows["orders"] = BASE["orders"] * w["orders_x"]
    rows["documents"] = BASE["documents"] * w["doc_replicas"]
    return rows


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start, span_days):
    return (start + rng.integers(0, span_days, n) * 86_400_000_000).astype("datetime64[us]")


def _table(name, cols, rng):
    """Arrow table in the fixture schema, rows in a seeded random order."""
    t = pa.Table.from_pydict(cols, schema=SCHEMAS[name])
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _base_documents(rng, n):
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    # near-duplicates (one in twenty): an earlier doc with two words
    # replaced and the token "dup" appended; a few exact copies as well
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        words = texts[int(rng.integers(0, i))].split()
        for _ in range(2):
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words + ["dup"])
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    lang = rng.choice(LANGS, n, p=LANG_P)
    return texts, lang


def replica_suffixes(rng, k):
    """k-1 distinct, equal-length, pure-[a-z] word suffixes (replica 0 has none)."""
    letters = np.array(list(string.ascii_lowercase))
    seen, out = set(), []
    while len(out) < k - 1:
        s = "".join(rng.choice(letters, SUFFIX_LEN))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return [""] + out


def generate(out_dir: str, seed: int, workload: str) -> dict:
    """Writes the workload's tables under out_dir; returns {table: rows}."""
    rows = expected_rows(workload)
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    tables = {}

    tables["region"] = _table("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, rng)
    tables["nation"] = _table("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}, rng)

    nc = rows["customer"]
    tables["customer"] = _table("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], nc)}, rng)

    ns = rows["supplier"]
    tables["supplier"] = _table("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)}, rng)

    npart = rows["part"]
    adj = np.array(["large", "small", "hot", "cold", "red", "new"])
    noun = np.array(["ring", "bolt", "gear", "plate", "anvil", "widget", "rod"])
    tables["part"] = _table("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, npart), rng.choice(noun, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)}, rng)

    no = rows["orders"]
    # one filing per customer key: more orders means more custkeys and
    # more holdings per filing, in the fixture's ten-orders-per-key ratio
    n_cust_keys = max(nc, no // 10)
    tables["orders"] = _table("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust_keys, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, epoch_us(1995, 1, 1), 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no)}, rng)

    nl = rows["lineitem"]
    n_ord_base = BASE["orders"]
    tables["lineitem"] = _table("lineitem", {
        "l_orderkey": rng.integers(0, n_ord_base, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, epoch_us(1995, 1, 2), 2498)}, rng)

    ne = rows["events"]
    ts = np.sort(epoch_us(2024, 1, 1) + rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = _table("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], ne),
        "value": _money(rng, ne, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}, rng)

    nd, reps = BASE["documents"], WORKLOADS[workload]["doc_replicas"]
    texts, lang = _base_documents(rng, nd)
    suffixes = replica_suffixes(rng, reps)
    doc_id, text, langs, source = [], [], [], []
    for r, sfx in enumerate(suffixes):
        for i in range(nd):
            doc_id.append(r * nd + i)
            text.append(" ".join(w + sfx for w in texts[i].split()) if sfx else texts[i])
            langs.append(lang[i])
            source.append(f"src{i % 20}")
    tables["documents"] = _table("documents", {
        "doc_id": np.array(doc_id, dtype=np.int64), "text": text, "lang": langs,
        "source": source, "n_chars": np.array([len(t) for t in text], dtype=np.int64)}, rng)

    nv = rows["embeddings"]
    label = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[label] + rng.normal(0, 0.8, (nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = _table("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64), "embedding": list(vecs),
        "label": label.astype(np.int32)}, rng)

    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def digest(out_dir: str) -> str:
    """Content digest over every table's decoded rows (not file bytes)."""
    h = hashlib.sha256()
    for name in sorted(SCHEMAS):
        t = pq.read_table(Path(out_dir) / f"{name}.parquet")
        h.update(name.encode())
        h.update(repr(t.to_pydict()).encode())
    return h.hexdigest()


def self_test(tmp: str) -> None:
    for workload in WORKLOADS:
        a, b, c = (f"{tmp}/{workload}_{x}" for x in "abc")
        rows = generate(a, 7, workload)
        generate(b, 7, workload)
        generate(c, 8, workload)
        assert digest(a) == digest(b), f"{workload}: same seed, different inputs"
        assert digest(a) != digest(c), f"{workload}: seed does not change the inputs"
        assert rows == expected_rows(workload), f"{workload}: rows {rows}"
        for name, schema in SCHEMAS.items():
            got = pq.read_schema(Path(a) / f"{name}.parquet").remove_metadata()
            assert got.equals(schema), f"{workload}/{name}: schema {got}"
        print(f"gen self-test ok: {workload} {rows}")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--self-test"]:
        self_test(sys.argv[2] if len(sys.argv) > 2 else ".bench_build/gen_selftest")
    else:
        print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
