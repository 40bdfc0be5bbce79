#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracle.py [sfdir] [verify_out]

Reads verify_out/<name>/*.parquet (written by graft.Verify) and
verify_out/oracle_sql.json, runs each oracle in DuckDB over the fixture
tables, canonicalizes both sides (columns sorted by name, rows sorted,
floats rounded to 6dp) and reports per-query match/mismatch.
"""
import duckdb, json, math, sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def canon(rows, cols, exact_floats=False):
    # exact_floats=True skips the 6dp rounding: repr() of a Python float
    # is shortest-round-trip, so the comparison is bit-exact — used by
    # the cross-checks whose whole point is IEEE-identical replay (l34)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif not exact_floats:
                    v = round(v, 6)
                    if v == 0:
                        v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out), [cols[i] for i in order]


oracle = json.load(open(f"{OUT}/oracle_sql.json"))
ok, bad = [], []
for name, sql in sorted(oracle.items()):
    try:
        got_rel = con.execute(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        got_cols = [d[0] for d in got_rel.description]
        got_rows = got_rel.fetchall()
        exp_rel = con.execute(sql)
        exp_cols = [d[0] for d in exp_rel.description]
        exp_rows = exp_rel.fetchall()
    except Exception as e:
        bad.append((name, f"EXEC ERROR: {e}"))
        continue
    g, gc = canon(got_rows, got_cols)
    e, ec = canon(exp_rows, exp_cols)
    if gc != ec:
        bad.append((name, f"SCHEMA: spark={gc} duck={ec}"))
    elif len(g) != len(e):
        bad.append((name, f"ROWCOUNT: spark={len(g)} duck={len(e)}"))
    elif g != e:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b)
        bad.append((name, f"VALUES @ sorted-row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}\n  cols ={gc}"))
    else:
        ok.append(name)

# ---------------------------------------------------------------------------
# Python cross-oracle for the DETERMINISTIC no_oracle queries.
#
# l9 (FNV fingerprint), l16 (winnowing) and l3 (simhash) are not
# SQL-expressible (wrapping 64-bit arithmetic), so the
# driver records rows-only checks and the Spark specs verify them against
# Spark-computed ground truth. That is sound but single-engine: the code
# below reimplements each algorithm INDEPENDENTLY in pure Python from its
# written definition (FNV-1a over UTF-16 code units for the char-based
# fingerprints, over UTF-8 bytes for the tokenized signatures; splitmix64
# seed mixes; signed-long comparisons where the JVM compares signed) and
# compares full result sets with the same canonicalization as the SQL
# oracles. A bug in the Scala implementation and an identical bug here
# would have to be made twice in two languages to slip through.
# ---------------------------------------------------------------------------
M64 = (1 << 64) - 1
FNV_OFF, FNV_P, GOLD = 0xcbf29ce484222325, 0x100000001b3, 0x9e3779b97f4a7c15


def s64(x):
    x &= M64
    return x - (1 << 64) if x >= (1 << 63) else x


def utf16_units(text):
    """Java charAt() semantics: UTF-16 code units, surrogates separate."""
    return memoryview(text.encode("utf-16-le")).cast("H")


def fnv_units(units, h=FNV_OFF):
    for u in units:
        h = ((h ^ u) * FNV_P) & M64
    return h


def fingerprint_py(text):            # TextAnalysis.fingerprint
    return 0 if text is None else s64(fnv_units(utf16_units(text)))


def winnow_py(text, k=5, w=4):       # TextAnalysis.winnow
    if text is None:
        return []
    cu = utf16_units(text)
    n = len(cu) - k + 1
    if n <= 0:
        return []
    hs = [s64(fnv_units(cu[i:i + k])) for i in range(n)]
    out = set()
    width = min(w, n)
    for start in range(max(n - w + 1, 1)):
        m = start                    # rightmost minimum, signed compare
        for t in range(start + 1, start + width):
            if hs[t] <= hs[m]:
                m = t
        out.add(hs[m])
    return sorted(out)


def token_hashes(tokens):
    """FNV-1a over UTF-8 bytes per token (MinHashSigExpr/SimHash64Expr)."""
    return [fnv_units(t.encode("utf-8")) for t in tokens]


def minhash_sig_py(tokens, k=32, shingle_n=3):   # MinHashSigExpr.signature
    sig = [(1 << 63) - 1] * k
    if not tokens:
        return sig
    th = token_hashes(tokens)
    for p in range(max(len(tokens) - shingle_n + 1, 1)):
        h = GOLD
        for j in range(shingle_n):
            if p + j >= len(tokens):
                break
            h = ((h ^ th[p + j]) * FNV_P) & M64
        for seed in range(k):
            z = (h + GOLD * (seed + 1)) & M64
            z = ((z ^ (z >> 30)) * 0xbf58476d1ce4e5b9) & M64
            z = ((z ^ (z >> 27)) * 0x94d049bb133111eb) & M64
            z ^= z >> 31
            z = s64(z)
            if z < sig[seed]:
                sig[seed] = z
    return sig


def band_keys_py(sig, bands=8, rows=4):          # BandKeysExpr.keys
    out = []
    for b in range(bands):
        h = FNV_OFF ^ ((b * GOLD) & M64)
        for j in range(b * rows, min(b * rows + rows, len(sig))):
            h = ((h ^ (sig[j] & M64)) * FNV_P) & M64
            h ^= h >> 29
        out.append(h)
    return out


def simhash_py(tokens):                          # SimHash64Expr.simhash
    votes = [0] * 64
    for h in token_hashes(tokens):
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    return s64(sum(1 << b for b in range(64) if votes[b] > 0))


def l3_py(docs, max_hamming=12):                 # Dedup.simhashPairs
    sh = {i: simhash_py(t.split(" ")) for i, t in docs if t is not None}
    buckets = {}
    for i, h in sh.items():
        for band in range(4):
            buckets.setdefault((band, (h >> (band * 16)) & 65535), []).append(i)
    rows = set()
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if a < b:
                    rows.add((a, b, bin((sh[a] ^ sh[b]) & M64).count("1")))
    return [r for r in rows if r[2] <= max_hamming]


def l42_py(docs, threshold=0.5):         # DedupIndex.query (evens indexed)
    # an odd-id (batch) doc drops iff some even-id (indexed) doc shares
    # >= 1 LSH band key and agrees on >= threshold of signature slots —
    # Dedup.minhashLsh's pair rule restricted to probe x index
    sigs = {i: minhash_sig_py(t.split(" ")) for i, t in docs if t is not None}
    buckets = {}
    for i, sig in sigs.items():
        if i % 2 == 0:
            for band, key in enumerate(band_keys_py(sig)):
                buckets.setdefault((band, key), []).append(i)
    out = []
    for i, t in docs:
        if i % 2 == 0:
            continue
        dropped = False
        if t is not None:
            sig = sigs[i]
            seen = set()
            for band, key in enumerate(band_keys_py(sig)):
                for e in buckets.get((band, key), []):
                    if e in seen:
                        continue
                    seen.add(e)
                    agree = sum(1 for x, y in zip(sig, sigs[e]) if x == y)
                    if agree / 32.0 >= threshold:
                        dropped = True
                        break
                if dropped:
                    break
        if not dropped:
            out.append((i,))
    return out


def s10_py(docs, threshold=0.5):          # DedupIndex.ingestFold replay
    # four time-ordered batches (doc_id % 4); batch 0 seeds the index,
    # each later batch drops docs with an INDEXED near-dup (shared band
    # + agreement >= threshold) and appends only its survivors — so the
    # index holds one representative per cluster. Within-batch dups are
    # both kept; null-text docs always survive and index no bands.
    sigs = {i: minhash_sig_py(t.split(" ")) for i, t in docs if t is not None}
    buckets = {}
    out = []
    for b in range(4):
        batch_surv = []
        for i, t in docs:
            if i % 4 != b:
                continue
            dropped = False
            if b > 0 and t is not None:
                sig = sigs[i]
                seen = set()
                for band, key in enumerate(band_keys_py(sig)):
                    for e in buckets.get((band, key), []):
                        if e in seen:
                            continue
                        seen.add(e)
                        agree = sum(1 for x, y in zip(sig, sigs[e]) if x == y)
                        if agree / 32.0 >= threshold:
                            dropped = True
                            break
                    if dropped:
                        break
            if not dropped:
                out.append((i, b))
                if t is not None:
                    batch_surv.append(i)
        # append this batch's survivors AFTER the whole batch is judged
        # (a batch never probes itself — within-batch dups both survive)
        for i in batch_surv:
            for band, key in enumerate(band_keys_py(sigs[i])):
                buckets.setdefault((band, key), []).append(i)
    return out


def l46_py(embs, nlist=16, iters=2):      # Similarity.clusterAssign
    # bit-exact mirror of the Scala path: stride seed pick, `iters`
    # Lloyd passes with floor(x*1000+0.5) long sums and one driver-side
    # division, dot/|c| scores accumulated in index order, strict
    # first-max argmax. All doubles are IEEE binary64 on both sides
    # (Java is strictfp since 17), so equality is exact, not approximate.
    total = len(embs)
    stride = max(1, total // nlist)
    ordered = sorted(embs, key=lambda r: r[0])
    seeds = [list(map(float, v)) for i, v in ordered
             if i % stride == 0 and v is not None][:nlist]
    # Scala falls back to an xxhash64-stride pick when NO id is a
    # stride multiple (sharded id spaces); the fixtures' ids are dense,
    # so that path never fires here — assert instead of mirroring it
    assert seeds, "empty stride seed: fixture ids not dense?"
    cents = seeds

    def norm(c):
        s = 0.0
        for x in c:
            s += x * x
        return math.sqrt(s)

    def nearest1(v, cents, norms):
        best, best_s = -1, 0.0
        for ci, c in enumerate(cents):
            dot = 0.0
            for j in range(min(len(c), len(v))):
                dot += c[j] * v[j]
            s = 0.0 if norms[ci] == 0 else dot / norms[ci]
            if best < 0 or s > best_s:
                best, best_s = ci, s
        return best

    norms = [norm(c) for c in cents]
    for _ in range(iters):
        sums, cnts = {}, {}
        for i, v in embs:
            if v is None:
                continue
            cell = nearest1(v, cents, norms)
            for pos, x in enumerate(v):
                q = math.floor(float(x) * 1000 + 0.5)
                sums[(cell, pos)] = sums.get((cell, pos), 0) + q
                cnts[(cell, pos)] = cnts.get((cell, pos), 0) + 1
        nxt = [list(c) for c in cents]
        for (cell, pos), s in sums.items():
            nxt[cell][pos] = s / (1000.0 * cnts[(cell, pos)])
        cents = nxt
        norms = [norm(c) for c in cents]
    return [(i, 0 if v is None else nearest1(v, cents, norms))
            for i, v in embs]


N_CROSS = [0]


def crosscheck(name, cols, expected_rows, exact_floats=False):
    N_CROSS[0] += 1
    try:
        got_rel = con.execute(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        got_cols = [d[0] for d in got_rel.description]
        got_rows = got_rel.fetchall()
    except Exception as e:
        bad.append((name, f"CROSS EXEC ERROR: {e}"))
        return
    g, gc = canon(got_rows, got_cols, exact_floats)
    e, ec = canon(expected_rows, cols, exact_floats)
    if gc != ec:
        bad.append((name, f"CROSS SCHEMA: spark={gc} python={ec}"))
    elif g != e:
        n_bad = sum(1 for a, b in zip(g, e) if a != b) + abs(len(g) - len(e))
        diff = next(((a, b) for a, b in zip(g, e) if a != b),
                    (len(g), len(e)))
        bad.append((name, f"CROSS VALUES ({n_bad} rows): {diff}"))
    else:
        ok.append(name + "[cross]")


def jl_matrix_py(out_dim=16, dim=64, seed=42):  # Similarity.jlMatrix
    s = math.sqrt(3.0 / out_dim)

    def sm64(x):
        z = (x + 0x9e3779b97f4a7c15) & M64
        z = ((z ^ (z >> 30)) * 0xbf58476d1ce4e5b9) & M64
        z = ((z ^ (z >> 27)) * 0x94d049bb133111eb) & M64
        return z ^ (z >> 31)

    return [[(s, -s, 0.0, 0.0, 0.0, 0.0)[sm64((seed + j * dim + i) & M64) % 6]
             for i in range(dim)]
            for j in range(out_dim)]


def jl_project_py(vec, mat):                     # Similarity.jlProject
    # identical IEEE op order to the Scala loop: ascending i, f32
    # widened to f64 before the multiply, sequential adds — the
    # comparison below is bit-exact, no rounding
    out = []
    for row in mat:
        acc = 0.0
        for i in range(min(len(row), len(vec))):
            acc += row[i] * float(vec[i])
        out.append(acc)
    return out


def shingle_hashes_py(text, n=8):        # ShingleHash64Expr, keepPartial
    toks = text.split(" ")               # limit=-1 semantics, empties kept
    th = [fnv_units(t.encode("utf-8")) for t in toks]
    ln = len(th)
    n_win = ln - n + 1 if ln >= n else 1
    out = []
    for p in range(n_win):
        h = GOLD                          # WindowSeed
        for j in range(min(n, ln - p)):
            h = ((h ^ th[p + j]) * FNV_P) & M64
        out.append(h)
    return out


def splitmix_mix(x):                     # Bloom64.mix (splitmix64 finalizer)
    z = (x + GOLD) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return (z ^ (z >> 31)) & M64


BLOOM_SEEDS = [splitmix_mix((0x5DEECE66D + i * GOLD) & M64) for i in range(64)]


def l38_py(docs, shingle_n=8, fpp=1e-6):  # Dedup.decontaminateBloom
    # the whole construction is deterministic (fixed per-slot seeds,
    # OR-fold filter build), so the bloom form cross-checks exactly —
    # including any realized false positives, which both engines must
    # agree on bit-for-bit
    bench_keys = set()
    for i, t in docs:
        if i % 50 == 0 and t is not None:
            bench_keys.update(shingle_hashes_py(t, shingle_n))
    n_keys = max(1, len(bench_keys))
    m = max(64, math.ceil(-n_keys * math.log(fpp) / (math.log(2) ** 2)))
    # JVM math.round = floor(x + 0.5); python round() half-to-even differs
    k = min(64, max(1, int(math.floor(m / n_keys * math.log(2) + 0.5))))
    mask = (1 << (m - 1).bit_length()) - 1  # next pow2 >= m, as a mask
    bits = set()
    for x in bench_keys:
        for i in range(k):
            bits.add(splitmix_mix(x ^ BLOOM_SEEDS[i]) & mask)
    def might(x):
        return all((splitmix_mix(x ^ BLOOM_SEEDS[i]) & mask) in bits
                   for i in range(k))
    out = []
    for i, t in docs:
        if i % 50 == 0:
            continue
        sh = [] if t is None else shingle_hashes_py(t, shingle_n)
        if not any(might(x) for x in sh):
            out.append((i,))
    return out


def bpe_merge_pass(syms, l, r):         # Bpe.mergePass: one greedy
    out, i = [], 0                      # left-to-right non-overlap pass
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train_py(docs, n_merges=24, min_pair_count=2):   # Bpe.bpeTrainFull
    # overlapping adjacent-pair counts weighted by word freq; winner =
    # (count desc, left asc, right asc) — Python's code-point string
    # order is the engine's UTF-8 binary order
    from collections import Counter
    freq = Counter()
    for _, t in docs:
        if t is None:
            continue
        for w in t.split(" "):
            if w:
                freq[w] += 1
    # Bpe.symbols: one symbol per code point
    vocab = {w: list(w) for w in freq}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, syms in vocab.items():
            f = freq[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < min_pair_count:
            break
        merges.append((rank, l, r, c))
        for w in vocab:
            vocab[w] = bpe_merge_pass(vocab[w], l, r)
    return merges, vocab


def bpe_encode_py(docs, merges):        # Bpe.bpeEncodeStats
    rows = []
    for i, t in docs:
        if t is None:
            rows.append((i, 0, 0))
            continue
        toks = [w for w in t.split(" ") if w]
        pieces = 0
        for w in toks:
            syms = list(w)
            for _, l, r, _ in merges:
                if len(syms) <= 1:
                    break
                syms = bpe_merge_pass(syms, l, r)
            pieces += len(syms)
        rows.append((i, len(toks), pieces))
    return rows


# self-check: a supplementary character starts as one symbol, its code
# point, as in Bpe.symbols (BpeSpec pins the same word)
_W = "a\U0001F600b"
assert bpe_encode_py([(1, _W)], []) == [(1, 1, 3)]
assert bpe_encode_py([(1, _W)], [(0, "a", "\U0001F600", 1)]) == [(1, 1, 2)]
assert bpe_train_py([(1, _W + " " + _W)], 1, 1)[1][_W] == ["a\U0001F600", "b"]


CDC_GEAR = [splitmix_mix((0x9E6C63D0A2849B1F + i * GOLD) & M64) for i in range(256)]


def cdc_spans_py(text, min_size=32, avg_bits=6, max_size=256):  # Cdc.chunkSpans
    bs = text.encode("utf-8")
    mask = (1 << avg_bits) - 1
    spans, start, h = [], 0, 0
    for i, b in enumerate(bs):
        h = ((h << 1) + CDC_GEAR[b]) & M64
        ln = i - start + 1
        if (ln >= min_size and (h & mask) == 0) or ln >= max_size:
            spans.append((start, ln))
            start, h = i + 1, 0
    if start < len(bs):
        spans.append((start, len(bs) - start))
    out = []
    for off, ln in spans:
        fp = FNV_OFF
        for j in range(off, off + ln):
            fp = ((fp ^ bs[j]) * FNV_P) & M64
        out.append((off, ln, s64(fp)))
    return out


def l50_py(docs):                        # Cdc.chunkTable
    rows = []
    for i, t in docs:
        if t is None:
            continue
        for idx, (off, ln, fp) in enumerate(cdc_spans_py(t)):
            rows.append((i, idx, off, ln, fp))
    return rows


def l51_py(docs):                        # Cdc.chunkDedupStats
    chunks = l50_py(docs)
    owners = {}
    for i, _, _, _, fp in chunks:
        owners.setdefault(fp, set()).add(i)
    agg = {}
    for i, _, _, ln, fp in chunks:
        n, tot, sh = agg.get(i, (0, 0, 0))
        agg[i] = (n + 1, tot + ln, sh + (ln if len(owners[fp]) >= 2 else 0))
    # Spark round(double, 6) is BigDecimal HALF_UP over the double's
    # shortest decimal repr; Python's round() is half-to-even and CAN
    # differ on exact 7th-decimal ties (k/128 byte ratios) — mirror
    # Spark's rule explicitly
    from decimal import Decimal, ROUND_HALF_UP
    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                                rounding=ROUND_HALF_UP))
    return [(i, n, tot, sh, r6(sh / tot) if tot else 0.0)
            for i, (n, tot, sh) in agg.items()]


docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
crosscheck("l9_fingerprint", ["doc_id", "fp"],
           [(i, fingerprint_py(t)) for i, t in docs])
l16 = []
for i, t in docs:
    fps = winnow_py(t)
    x = 0
    for f in fps:
        x ^= f & M64
    # array_min(empty) is NULL but aggregate(empty, 0L, xor) is 0
    l16.append((i, len(fps), min(fps) if fps else None, s64(x)))
crosscheck("l16_winnow", ["doc_id", "n_fp", "fp_min", "fp_xor"], l16)
# l2_minhash_lsh's declared form is the LSH+exact-verify pipeline, whose
# exact scores the generic DuckDB oracle above hash-checks directly. The
# EST-ONLY pair rule (band collision + signature agreement >= threshold —
# l2's bench shape and the exact rule behind DedupIndex.selfPairs/l55)
# keeps its own cross-engine value check below via l55: the full
# selfPairs pair set and its min-id closure re-derived in pure Python.


def l55_py(docs, threshold=0.5):  # DedupIndex.selfPairs + min-id closure
    sigs = {i: minhash_sig_py(t.split(" ")) for i, t in docs if t is not None}
    buckets = {}
    for i, sig in sigs.items():
        for band, key in enumerate(band_keys_py(sig)):
            buckets.setdefault((band, key), []).append(i)
    cand = set()
    for ids in buckets.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = min(ids[x], ids[y]), max(ids[x], ids[y])
                cand.add((a, b))
    pairs = [(a, b) for a, b in cand
             if sum(1 for u, v in zip(sigs[a], sigs[b]) if u == v) / len(sigs[a])
             >= threshold]
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: the root of every tree is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    return [(i, find(i)) for i in sorted({i for p in pairs for i in p})]


crosscheck("l55_dedup_groups_indexed", ["id", "comp"], l55_py(docs))
crosscheck("l3_simhash", ["id_a", "id_b", "hamming"], l3_py(docs))
embs = con.execute(
    "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
jl_mat = jl_matrix_py()
# scalar (vec_id, pos, value) form — the declared query posexplodes the
# projection so the driver harness can canonicalize it; the values are
# raw doubles, compared BIT-EXACTLY (exact_floats)
crosscheck("l34_jl_project", ["vec_id", "pos", "value"],
           [(i, p, val) for i, v in embs
            for p, val in enumerate(jl_project_py(v, jl_mat))],
           exact_floats=True)
crosscheck("l38_bloom_decontaminate", ["doc_id"], l38_py(docs))
l42 = l42_py(docs)
crosscheck("l42_dedup_index_query", ["doc_id"], l42)
# the appended index covers the same even-id corpus -> same survivors:
# the append law checked at the value level
crosscheck("l43_dedup_index_append", ["doc_id"], l42)
crosscheck("s10_ingest_dedup_replay", ["doc_id", "ingest_batch"], s10_py(docs))
crosscheck("l46_cluster_assign", ["vec_id", "cluster_id"], l46_py(embs))
bpe_merges, _ = bpe_train_py(docs)
crosscheck("l47_bpe_merges", ["rank", "left", "right", "pair_count"], bpe_merges)
crosscheck("l48_bpe_encode", ["doc_id", "n_words", "n_pieces"],
           bpe_encode_py(docs, bpe_merges))
crosscheck("l50_cdc_chunks",
           ["doc_id", "chunk_idx", "chunk_off", "chunk_len", "chunk_fp"],
           l50_py(docs))
crosscheck("l51_cdc_dedup",
           ["doc_id", "n_chunks", "total_bytes", "shared_bytes", "shared_frac"],
           l51_py(docs))

print(f"PASS {len(ok)}/{len(oracle) + N_CROSS[0]}: {' '.join(ok)}")
for name, why in bad:
    print(f"FAIL {name}: {why}")
sys.exit(1 if bad else 0)
