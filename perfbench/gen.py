#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Usage: gen.py <workload> <seed> <out_dir>

Everything the engine sees comes from here and depends only on the seed
(numpy's PCG64 seeded with [seed, workload]): the stores' base corpora,
the `serve` request payloads, ingest batch and takedown, and the `batch`
plan groups, pretraining corpus and relational tables. Sizes are fixed
constants (below) so that two seeds differ in content, not in volume.
A `sizes.json` beside the data, written last, records every size and
planted share.
"""
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("serve", "batch")

# --- sizes -------------------------------------------------------------
VOCAB = 3000            # tokens w0000..w2999, Zipf-weighted
DIM = 64                # embedding width (the engine's fixture width)
CLUSTERS = 32           # Gaussian clusters the vectors are drawn from
INDEX_DOCS = 1000       # docs in the persisted dedup index
INDEX_VECS = 1000       # vectors in the persisted IVF and PQ indexes
ENTITY_GROUPS = 5000    # plan groups behind the materialized entities
PLANS = 40              # plan ids 2^0..2^39 (bit 31 set, bit 63 missing)
PROBE_DOCS = 25         # dedup probe batch size
PROBE_VECS = 17         # ANN / PQ probe batch size
PROBE_DUP_SHARE = 0.3   # planted near-duplicates of indexed docs per probe
SCHEDULE_OPS = 100      # requests per serve client: 20 rounds, more than a run uses
SCHEDULES = 2           # serve clients, one schedule each
STEP_DOCS = 48          # docs the serve writer ingests
STEP_VECS = 48          # vectors the serve writer ingests
STEP_DUP_SHARE = 0.25   # planted near-duplicates of already-indexed rows
TAKEDOWN_ROWS = 8       # indexed docs and vectors the serve writer takes down
REFRESH_GROUPS = 20000  # plan groups materialized by `refresh`
PRETRAIN_DOCS = 800     # corpus of the composed pretraining pipeline
PRETRAIN_DUP_SHARE = 0.04    # exact copies
PRETRAIN_NEAR_SHARE = 0.04   # near-duplicates (a few tokens replaced)
PRETRAIN_CONTAM_SHARE = 0.02  # rows carrying an 8-gram of a benchmark doc
PRETRAIN_SHORT_SHARE = 0.05   # rows failing the length gate
REPORT_SF = 0.005       # TPC-H-like scale of the `report` tables

OPS = ("dedup_probe", "ann_probe", "pq_probe", "entity_get", "counter_incr")
PROBE_ID_BASE = 50_000_000
STEP_ID_BASE = 10_000_000


def vocab_sampler(rng):
    words = np.array(["w%04d" % i for i in range(VOCAB)])
    p = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    p /= p.sum()
    return lambda n: words[rng.choice(VOCAB, size=n, p=p)]


def texts(rng, draw, n, lo=40, hi=90):
    lens = rng.integers(lo, hi + 1, size=n)
    toks = draw(int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(list(toks[at:at + ln]))
        at += ln
    return out


def near(rng, draw, toks, share=0.08):
    t = list(toks)
    k = max(1, int(round(len(t) * share)))
    for i, w in zip(rng.choice(len(t), size=k, replace=False), draw(k)):
        t[i] = w
    return t


def centers(rng):
    return rng.standard_normal((CLUSTERS, DIM)).astype(np.float32)


def vectors(rng, cents, n):
    lab = rng.permutation(np.arange(n) % CLUSTERS)   # balanced clusters
    v = cents[lab] + 0.6 * rng.standard_normal((n, DIM)).astype(np.float32)
    return v.astype(np.float32)


def vec_table(ids, vecs):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})


def doc_table(ids, toks):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array([" ".join(t) for t in toks], pa.string())})


def write(table, path):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def write_tsv(rows, path):
    """Request payloads as tab-separated text (vectors comma-joined): the
    harness loads them without running a Spark job."""
    path.write_text("".join("\t".join(map(str, r)) + "\n" for r in rows))


def vec_str(v):
    return ",".join(map(str, v.tolist()))


def plans_and_groups(rng, out, n_groups):
    """`nation` (PLANS rows, keys 0..PLANS-1) and `supplier` (n_groups
    rows, distinct seeded 31-bit keys) in the fixture schema: the
    engine's PlanPipeline.plansFrom / groupsFrom derive plan ids 2^key
    and 64-bit masks (bits 0-24 plus bits 31 and 63) from them."""
    keys = np.arange(PLANS, dtype=np.int32)
    write(pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array(["PLAN_%02d_%d" % (k, rng.integers(1000)) for k in keys]),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    }), out / "nation.parquet")
    sk = rng.choice(2 ** 31 - 1, size=n_groups, replace=False).astype(np.int64)
    write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array(["Group#%010d" % k for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, PLANS, size=n_groups), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_groups), 2)),
    }), out / "supplier.parquet")
    return sk


def stores(rng, draw, cents, out):
    """Base corpora of the persisted stores (dedup index, IVF, PQ)."""
    toks = texts(rng, draw, INDEX_DOCS)
    write(doc_table(np.arange(INDEX_DOCS), toks), out / "index_docs.parquet")
    vecs = vectors(rng, cents, INDEX_VECS)
    write(vec_table(np.arange(INDEX_VECS), vecs), out / "index_vecs.parquet")
    return toks, vecs


def dedup_batch(rng, draw, base_toks, first_id, n, dup_share):
    n_dup = int(round(n * dup_share))
    src = rng.choice(len(base_toks), size=n_dup, replace=False)
    toks = [near(rng, draw, base_toks[i]) for i in src] + texts(rng, draw, n - n_dup)
    return list(range(first_id, first_id + n)), toks


def gen_serve(rng, out, sizes):
    draw = vocab_sampler(rng)
    cents = centers(rng)
    base_toks, base_vecs = stores(rng, draw, cents, out)
    sk = plans_and_groups(rng, out, ENTITY_GROUPS)
    # equal-weight round robin, client c starting at op 2c; the seed picks
    # every payload, not the mix
    ops = (np.arange(SCHEDULE_OPS)[None, :] + 2 * np.arange(SCHEDULES)[:, None]) % len(OPS)
    n_dedup = int((ops == 0).sum())
    n_vec = int(((ops == 1) | (ops == 2)).sum())
    rows = []
    for p in range(n_dedup):
        ids, toks = dedup_batch(rng, draw, base_toks, PROBE_ID_BASE + p * 100,
                                   PROBE_DOCS, PROBE_DUP_SHARE)
        rows += [(p, i, " ".join(t)) for i, t in zip(ids, toks)]
    write_tsv(rows, out / "dedup_probes.tsv")
    rows, half = [], PROBE_VECS // 2
    for p in range(n_vec):
        src = rng.choice(INDEX_VECS, size=half, replace=False)
        vq = np.concatenate([
            base_vecs[src] + 0.1 * rng.standard_normal((half, DIM)).astype(np.float32),
            vectors(rng, cents, PROBE_VECS - half)]).astype(np.float32)
        rows += [(p, PROBE_ID_BASE + p * 100 + j, vec_str(v)) for j, v in enumerate(vq)]
    write_tsv(rows, out / "vec_probes.tsv")
    # the schedule: per client, (kind, argument); probes draw distinct
    # batches in order, entity gets a seeded existing gid, counter +1/-1
    cursor = {"dedup": 0, "vec": 0}
    rows = []
    for c in range(SCHEDULES):
        for o in ops[c]:
            name = OPS[o]
            if name == "dedup_probe":
                arg = cursor["dedup"]; cursor["dedup"] += 1
            elif name in ("ann_probe", "pq_probe"):
                arg = cursor["vec"]; cursor["vec"] += 1
            elif name == "entity_get":
                arg = int(sk[rng.integers(len(sk))])
            else:
                arg = int(rng.choice([1, 1, 1, -1]))
            rows.append((c, name, arg))
    write_tsv(rows, out / "schedule.tsv")
    gen_ingest(rng, draw, cents, base_toks, base_vecs, out)
    sizes.update(index_docs=INDEX_DOCS, index_vecs=INDEX_VECS,
                 entity_groups=ENTITY_GROUPS, plans=PLANS,
                 probe_docs=PROBE_DOCS, probe_vecs=PROBE_VECS,
                 probe_dup_share=PROBE_DUP_SHARE, ops=list(OPS),
                 step_docs=STEP_DOCS, step_vecs=STEP_VECS,
                 step_dup_share=STEP_DUP_SHARE, takedown_rows=TAKEDOWN_ROWS)


def gen_ingest(rng, draw, cents, base_toks, base_vecs, out):
    """The serve writer's batch (docs and vectors with a planted share of
    near-duplicates of indexed rows) and its takedown of base rows."""
    ids, toks = dedup_batch(rng, draw, base_toks, STEP_ID_BASE, STEP_DOCS,
                               STEP_DUP_SHARE)
    write_tsv([(i, " ".join(t)) for i, t in zip(ids, toks)], out / "ingest_docs.tsv")
    n_dup = int(round(STEP_VECS * STEP_DUP_SHARE))
    src = rng.choice(INDEX_VECS, size=n_dup, replace=False)
    v = np.concatenate([
        base_vecs[src] + 0.05 * rng.standard_normal((n_dup, DIM)).astype(np.float32),
        vectors(rng, cents, STEP_VECS - n_dup)]).astype(np.float32)
    write_tsv([(STEP_ID_BASE + j, vec_str(x)) for j, x in enumerate(v)], out / "ingest_vecs.tsv")
    write_tsv(zip(rng.choice(INDEX_DOCS, TAKEDOWN_ROWS, replace=False),
                  rng.choice(INDEX_VECS, TAKEDOWN_ROWS, replace=False)),
              out / "takedowns.tsv")


def gen_pretrain(rng, out, n):
    draw = vocab_sampler(rng)
    toks = texts(rng, draw, n, 30, 120)
    kinds = rng.choice(5, size=n, p=[
        1 - PRETRAIN_DUP_SHARE - PRETRAIN_NEAR_SHARE - PRETRAIN_CONTAM_SHARE
        - PRETRAIN_SHORT_SHARE, PRETRAIN_DUP_SHARE, PRETRAIN_NEAR_SHARE,
        PRETRAIN_CONTAM_SHARE, PRETRAIN_SHORT_SHARE])
    bench_ids = np.arange(0, n, 50)   # the pipeline's benchmark set: doc_id % 50 == 0
    for i in range(n):
        if i % 50 == 0:
            continue
        k = kinds[i]
        if k == 1:
            toks[i] = list(toks[rng.integers(n)])
        elif k == 2:
            toks[i] = near(rng, draw, toks[rng.integers(n)], 0.05)
        elif k == 3:
            b = toks[int(rng.choice(bench_ids))]
            at = int(rng.integers(0, len(b) - 8))
            pos = int(rng.integers(0, len(toks[i])))
            toks[i] = toks[i][:pos] + b[at:at + 8] + toks[i][pos:]
        elif k == 4:
            toks[i] = toks[i][:int(rng.integers(3, 15))]
    text = [" ".join(t) for t in toks]
    write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], size=n)),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), out / "documents.parquet")
    return {k: int((kinds == j).sum()) for j, k in enumerate(
        ["unique", "exact_dup", "near_dup", "contaminated", "short"])}


def gen_report(rng, out, sf):
    ts = lambda days: pa.array(
        (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]"),
        pa.timestamp("us"))
    n_c, n_s, n_p = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_o = int(1500000 * sf)
    write(pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                    "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
          out / "region.parquet")
    write(pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                    "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
                    "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())}),
          out / "nation.parquet")
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c)),
    }), out / "customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_s)),
    }), out / "supplier.parquet")
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "tiny", "old"])
    noun = np.array(["ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "nut"])
    write(pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, n_p), " "),
                                       rng.choice(noun, n_p))),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p)),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2)),
    }), out / "part.parquet")
    # a skewed customer key: a few customers own a large order share
    hot = rng.random(n_o) < 0.2
    cust = np.where(hot, rng.integers(0, 8, n_o), rng.integers(0, n_c, n_o))
    odays = rng.integers(0, 2400, n_o)
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_o)),
        "o_totalprice": pa.array(money(1000, 500000, n_o)),
        "o_orderdate": ts(odays),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)),
    }), out / "orders.parquet")
    per = rng.integers(1, 8, n_o)
    n_l = int(per.sum())
    lok = np.repeat(np.arange(n_o), per)
    lnum = np.arange(n_l) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_l)),
        "l_shipdate": ts(np.repeat(odays, per) + rng.integers(1, 122, n_l)),
    }), out / "lineitem.parquet")
    n_e = int(1000000 * sf)
    gaps = rng.exponential(30 * 24 * 3600 / n_e, n_e)
    t_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    write(pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us")
                        + t_us.astype("timedelta64[us]")), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(1500 * sf * 10), n_e), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_e)),
        "value": pa.array(np.round(rng.exponential(50, n_e) + 0.01, 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_e)]),
    }), out / "events.parquet")
    return {"customer": n_c, "supplier": n_s, "part": n_p, "orders": n_o,
            "lineitem": n_l, "events": n_e}


def gen_batch(rng, out, sizes):
    plans_and_groups(rng, out / "refresh", REFRESH_GROUPS)
    mix = gen_pretrain(rng, out / "pretrain", PRETRAIN_DOCS)
    rows = gen_report(rng, out / "report", REPORT_SF)
    # input rows per stage, for the harness's rows_per_s
    (out / "stage_rows.txt").write_text("refresh %d\npretrain %d\nreport %d\n" % (
        REFRESH_GROUPS, PRETRAIN_DOCS, sum(rows.values()) + 30))
    sizes.update(refresh_groups=REFRESH_GROUPS, plans=PLANS,
                 pretrain_docs=PRETRAIN_DOCS, pretrain_mix=mix,
                 report_sf=REPORT_SF, report_rows=rows)


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])
    if workload not in WORKLOADS:
        sys.exit("unknown workload %r" % workload)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    out.mkdir(parents=True, exist_ok=True)
    sizes = {"workload": workload, "seed": seed}
    {"serve": gen_serve, "batch": gen_batch}[workload](rng, out, sizes)
    # written last, atomically: the harness starts reading when it appears
    tmp = out / "sizes.json.tmp"
    tmp.write_text(json.dumps(sizes, indent=1))
    tmp.rename(out / "sizes.json")


if __name__ == "__main__":
    main()
