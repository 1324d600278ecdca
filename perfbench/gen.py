"""Seeded input generator for the graft benchmark.

Every table is synthesized from the seed alone (numpy's PCG64), in the
schema and value shapes of the repository's test sets (TESTDATA.md): a
TPC-H-like star schema for the CRM exports, an `events` stream table,
and a `documents` corpus for the dedup family. The same seed always
gives byte-identical inputs; the program under test only ever sees the
directories written here.

Each generator returns a manifest (row counts, document counts and the
planted-duplicate share) that run.py records in the result.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 30-word vocabulary of the test sets' document corpus.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = "large hot blue small red green cold fast smooth rough".split()
P_NOUN = "ring bolt nut gear pipe valve spring washer".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _cents(x):
    return np.round(x, 2)


def _days(base: str, offsets) -> np.ndarray:
    return (np.datetime64(base, "us")
            + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def crm_tables(seed: int, sf: float, out: str) -> dict:
    """The eight CRM-side tables at scale `sf` (sf0.1 = 150k orders)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n_part)], " "),
                              np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")

    ok = np.arange(n_ord, dtype=np.int64)
    odate = _days("1995-01-01", rng.integers(0, 2404, n_ord))
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(900.0, 450_000.0, n_ord)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    # 1-7 lines per order (mean 4, as in the test sets); ~2% of
    # orders carry no lines at all, so the left joins see misses.
    per = rng.integers(1, 8, n_ord) * (rng.random(n_ord) > 0.02)
    lok = np.repeat(ok, per)
    n_li = len(lok)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n_li)),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": flag,
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, per)
                               + rng.integers(1, 122, n_li).astype("timedelta64[D]")
                               .astype("timedelta64[us]"), pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")

    # events: one month of microsecond timestamps in event_id order
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_users, 1), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng.exponential(40.0, n_ev)),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")}),
        f"{out}/events.parquet")
    return {"sf": sf, "rows": {"customer": n_cust, "supplier": n_supp, "part": n_part,
                               "orders": n_ord, "lineitem": int(n_li), "events": n_ev}}


def _text(rng, vocab: np.ndarray, n_tokens: int) -> list:
    return list(vocab[rng.integers(0, len(vocab), n_tokens)])


def _near(rng, vocab: np.ndarray, toks: list) -> list:
    """One token replaced by a different vocabulary word."""
    out = list(toks)
    i = int(rng.integers(0, len(out)))
    w = out[i]
    while w == out[i]:
        w = vocab[int(rng.integers(0, len(vocab)))]
    out[i] = w
    return out


def _docs_table(rows: list) -> pa.Table:
    ids, texts, langs, sources = zip(*rows)
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": list(texts),
                     "lang": list(langs),
                     "source": list(sources),
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def dedup_corpus(seed: int, n_base: int, near_share: float, exact_share: float,
                 out: str) -> dict:
    """The base corpus of the dedup build chain: `n_base` documents over
    the 30-word vocabulary, of which a stated share are planted one-token
    near-duplicates and exact (case/space-variant) duplicates of earlier
    documents. The harness replicates it with ScaleGen.scaleDocuments."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(WORDS)
    os.makedirs(out, exist_ok=True)
    rows, toks_of = [], []
    n_near = n_exact = 0
    for i in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        src = f"src{int(rng.integers(0, 20))}"
        r = rng.random()
        if i > 10 and r < near_share:
            toks = _near(rng, vocab, toks_of[int(rng.integers(0, i))])
            n_near += 1
        elif i > 10 and r < near_share + exact_share:
            toks = list(toks_of[int(rng.integers(0, i))])
            n_exact += 1
            rows.append((i, " ".join(toks).upper() + " ", lang, src))
            toks_of.append(toks)
            continue
        else:
            toks = _text(rng, vocab, int(rng.integers(10, 101)))
        toks_of.append(toks)
        rows.append((i, " ".join(toks), lang, src))
    _write(_docs_table(rows), f"{out}/base_documents.parquet")
    return {"base_docs": n_base, "planted_near_dups": n_near, "planted_exact_dups": n_exact,
            "planted_share": round((n_near + n_exact) / n_base, 4)}


def ingest_stream(seed: int, n_seed: int, batch_docs: int, n_batches: int,
                  exact_share: float, near_share: float, out: str) -> dict:
    """A seed store plus a stream of micro-batches with a planted ledger.

    Words carry one of 16 suffixes, so most 3-shingles are rare and a
    planted one-token near-duplicate always shares rare shingles with
    its original (the ingest's candidate rule). Originals of planted
    duplicates are seed-store documents, which are in the store before
    any batch runs. Batch ids start at 1.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([w + s for w in WORDS for s in [""] + [f"q{k}" for k in range(15)]])
    os.makedirs(out, exist_ok=True)
    seed_toks = [_text(rng, vocab, int(rng.integers(40, 101))) for _ in range(n_seed)]
    pq.write_table(pa.table({"doc_id": pa.array(range(n_seed), pa.int64()),
                             "text": [" ".join(t) for t in seed_toks]}),
                   f"{out}/seed.parquet")
    batches, dropped = [], []
    next_id = n_seed
    n_exact = n_near = n_novel = 0
    for batch_id in range(1, n_batches + 1):
        ids, texts = [], []
        for _ in range(batch_docs):
            r = rng.random()
            orig = seed_toks[int(rng.integers(0, n_seed))]
            if r < exact_share:
                # case and whitespace variants normalize to the same fingerprint
                texts.append("  " + " ".join(orig).upper())
                dropped.append(next_id)
                n_exact += 1
            elif r < exact_share + near_share:
                texts.append(" ".join(_near(rng, vocab, orig)))
                dropped.append(next_id)
                n_near += 1
            else:
                texts.append(" ".join(_text(rng, vocab, int(rng.integers(40, 101)))))
                n_novel += 1
            ids.append(next_id)
            next_id += 1
        f = f"{out}/batch-{batch_id:04d}.parquet"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), f)
        batches.append({"batch_id": batch_id, "file": f, "docs": len(ids)})
    return {"seed_docs": n_seed, "batch_docs": batch_docs, "batches": batches,
            "planted_exact_dups": n_exact, "planted_near_dups": n_near, "novel_docs": n_novel,
            "planted_share": round((n_exact + n_near) / max(1, n_exact + n_near + n_novel), 4),
            "dropped_ids": dropped}
