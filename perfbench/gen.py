"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes the inputs of one workload into <out_dir> and, next to them,
`expected.json`: the values the generator derives from its own rows
(medallion) and a digest of every input byte. The program under test
only ever receives <out_dir>.

- medallion: a ZIP holding one headerless, `;`-delimited ISO-8859-1
  CSV shaped like the CNAE table (codigo;descricao) with blank,
  padded, accented and doubled-quote fields, plus a parquet changeset
  for the upsert step.
- queries: the star schema the query keys read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the value sets and distributions of the
  shipped sf0.1 tables. Facts are replicated with the scaling model of
  scripts/gen_sf1.py: orderkeys and event ids shift per replica,
  event time shifts by the full span plus one hour, foreign keys to
  dimensions stay unshifted. Every draw comes from `seed`; row order
  of the facts and the signed permutation applied to the embedding
  dimensions vary with it too.
"""
import hashlib
import io
import json
import os
import sys
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the `queries` inputs: dimensions at half the sf0.1
# counts, each fact table as REPLICAS shifted copies of a base replica
# of FACT_ROWS rows, documents and embeddings at 40% / 50% of sf0.1.
DIM_ROWS = {"customer": 7500, "supplier": 500, "part": 10000}
FACT_ROWS = {"orders": 37500, "lineitem": 150000, "events": 25000}
REPLICAS = 2
DOC_ROWS = 2000
EMB_ROWS = 1000
MEDALLION_ROWS = 200_000
MEDALLION_CHANGES = 20_000
KEY_STRIDE = 10_000_000
EMB_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
CNAE_WORDS = ["comércio", "serviços", "fabricação", "atividades", "produção",
              "construção", "manutenção", "transporte", "educação", "saúde",
              "agrícola", "alimentação", "informação", "reparação", "peças"]

US_PER_DAY = 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, end: str) -> tuple:
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return int(d0), int(d1)


def star_schema(rng, out: str, replicas: int = REPLICAS) -> None:
    n = {**DIM_ROWS, **FACT_ROWS}
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    pk = np.arange(npart, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})

    # -- orders / lineitem: one base replica, shifted copies ---------------
    no, nl = n["orders"], n["lineitem"]
    od0, od1 = _days("1995-01-01", "2001-08-01")
    orders = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": rng.integers(od0, od1 + 1, no) * US_PER_DAY,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]}
    sd0, sd1 = _days("1995-01-02", "2001-11-04")
    line = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": rng.integers(sd0, sd1 + 1, nl) * US_PER_DAY}

    def replicate(base: dict, shift: dict) -> dict:
        outc = {}
        for c, v in base.items():
            parts = [v + r * shift[c] if c in shift else v
                     for r in range(replicas)]
            outc[c] = np.concatenate(parts)
        order = rng.permutation(len(next(iter(outc.values()))))
        return {c: v[order] for c, v in outc.items()}

    o = replicate(orders, {"o_orderkey": KEY_STRIDE})
    o["o_orderdate"] = _ts(o["o_orderdate"])
    o["o_orderpriority"] = o["o_orderpriority"].tolist()
    o["o_orderstatus"] = o["o_orderstatus"].tolist()
    _write(out, "orders", o)
    li = replicate(line, {"l_orderkey": KEY_STRIDE})
    li["l_shipdate"] = _ts(li["l_shipdate"])
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    for c in ("l_returnflag", "l_linestatus"):
        li[c] = li[c].tolist()
    _write(out, "lineitem", li)

    # -- events: sorted timeline over 30 days, shifted per replica ---------
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span_us = 30 * US_PER_DAY
    ts = np.sort(t0 + rng.integers(0, span_us, ne))
    ev = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[
            rng.integers(0, 100, ne)]}
    ev_span = int(ts.max() - ts.min()) + 3_600_000_000
    e = {c: np.concatenate([
        v + r * (KEY_STRIDE if c == "event_id" else ev_span)
        if c in ("event_id", "ts") else v for r in range(replicas)])
        for c, v in ev.items()}
    e["ts"] = _ts(e["ts"])
    e["event_type"] = e["event_type"].tolist()
    e["props"] = e["props"].tolist()
    _write(out, "events", e)

    documents(rng, out, DOC_ROWS)
    embeddings(rng, out, EMB_ROWS)


def documents(rng, out: str, nd: int) -> None:
    """Random 10-100 word texts over a 30-word vocabulary; 5% of the
    documents are another document's text plus a trailing ` dup`
    (the planted near-duplicate groups of the shipped corpus)."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, 30,
                                                     rng.integers(10, 101))]))
    order = rng.permutation(nd)
    texts = [texts[j] for j in order]
    _write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, out: str, nv: int) -> None:
    """Unit vectors with 10 labels, then a seeded signed permutation of
    the dimensions (orthogonal: cosines are preserved) and a seeded row
    order."""
    m = rng.standard_normal((nv, EMB_DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    perm = rng.permutation(EMB_DIM)
    signs = rng.choice([-1.0, 1.0], size=EMB_DIM)
    m = (m[:, perm] * signs).astype(np.float32)
    order = rng.permutation(nv)
    _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(m[order]), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


def _csv_field(v: str) -> str:
    if any(c in v for c in ';"|'):
        return '"' + v.replace('"', '""') + '"'
    return v


def _segment(code: int) -> str:
    return "PRIMARIO" if code % 2 == 1 else "SECUNDARIO"


def refined_digest(rows) -> str:
    """Order-independent digest of (codigo, descricao, segmento) rows:
    sha256 over the rows sorted by codigo. check.py recomputes it from
    the refined parquet the program writes."""
    h = hashlib.sha256()
    for code, desc, seg in sorted(rows, key=lambda r: r[0]):
        h.update(f"{code}\t{'' if desc is None else desc}\t{seg}\n"
                 .encode("utf-8"))
    return h.hexdigest()


def medallion(rng, out: str) -> dict:
    n = MEDALLION_ROWS
    codes = rng.permutation(np.arange(100_000, 100_000 + 3 * n))[:n].tolist()
    words = CNAE_WORDS
    n_words = rng.integers(2, 7, n).tolist()
    picks = rng.integers(0, len(words), (n, 6)).tolist()
    kind = rng.integers(0, 20, n).tolist()
    lines, clean = [], []
    for code, k, nw, pick in zip(codes, kind, n_words, picks):
        desc = " ".join([words[w] for w in pick[:nw]])
        if k == 0:            # blank: empty or whitespace only -> NULL
            raw, value = ("" if code % 2 else "   "), None
        elif k == 1:          # padded -> trimmed
            raw, value = f"  {desc}  ", desc
        elif k == 2:          # doubled quotes and both delimiters
            value = f'{desc} "aspas";e|pipe'
            raw = value
        else:
            raw, value = desc, desc
        lines.append(f"{code};{_csv_field(raw)}")
        clean.append((code, value, _segment(code)))
    payload = "\n".join(lines).encode("iso-8859-1")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=1) as z:
        # fixed timestamp so the archive bytes depend on the seed only
        z.writestr(zipfile.ZipInfo("Cnaes.csv", (2024, 1, 1, 0, 0, 0)),
                   payload, compress_type=zipfile.ZIP_DEFLATED,
                   compresslevel=1)
    os.makedirs(os.path.join(out, "landing"), exist_ok=True)
    with open(os.path.join(out, "landing", "cnaes.zip"), "wb") as f:
        f.write(buf.getvalue())

    # changeset: half updates of existing codes, half inserts
    m = MEDALLION_CHANGES
    upd = rng.choice(np.array(codes), m // 2, replace=False)
    ins = np.arange(10_000_000, 10_000_000 + (m - m // 2))
    ch_codes = np.concatenate([upd, ins]).astype(np.int64)
    ch_desc = [f"{words[a]} revisado {i}" for i, a in enumerate(
        rng.integers(0, len(words), m).tolist())]
    ch = [(int(c), d, _segment(int(c))) for c, d in zip(ch_codes, ch_desc)]
    _write(out, "changes", {
        "codigo": ch_codes, "descricao": ch_desc,
        "segmento": [r[2] for r in ch]})
    merged = {r[0]: r for r in clean}
    merged.update({r[0]: r for r in ch})
    seg = [r[2] for r in clean]
    return {
        "raw_bytes": len(payload),
        "refined_rows": n,
        "refined_nulls": sum(1 for r in clean if r[1] is None),
        "refined_keys": n,
        "segments": {s: seg.count(s) for s in ("PRIMARIO", "SECUNDARIO")},
        "refined_digest": refined_digest(clean),
        "upsert_rows": len(merged),
        "upsert_digest": refined_digest(merged.values()),
    }


def input_digest(out: str) -> tuple:
    """sha256 over every generated file (relative name + bytes) and the
    total byte count."""
    h, total = hashlib.sha256(), 0
    for root, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            p = os.path.join(root, f)
            rel = os.path.relpath(p, out)
            if rel == "expected.json":
                continue
            data = open(p, "rb").read()
            total += len(data)
            h.update(rel.encode() + b"\0" + data)
    return h.hexdigest(), total


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    workloads = ("medallion", "queries")
    if workload not in workloads:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, workloads.index(workload)])
    if workload == "medallion":
        expected = medallion(rng, out)
    else:
        star_schema(rng, out)
        expected = {}
    expected["input_sha256"], expected["input_bytes"] = input_digest(out)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    return expected


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
