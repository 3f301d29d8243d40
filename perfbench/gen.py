"""Seeded input generators for the benchmark.

Two families, both byte-deterministic for a given seed:

* ``tables`` writes the ten parquet tables the query registry reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), one single-row-group file per table, with the
  column names and types of the project's fixture tables (FIXTURES.md).
  The *content* comes from a fixed content seed, so every benchmark seed
  runs the same rows; the benchmark seed only permutes the row order of
  each table (seed 0 keeps generation order). Query cost therefore does
  not drift with the seed while the physical input still changes.
* ``zipf_text`` writes newline-delimited, single-space-separated text
  for the word-count job, drawn from a Zipf law over a vocabulary far
  larger than the facade's in-map combiner bound, and returns the exact
  count of every word.
"""
import datetime
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.45, 0.15, 0.13, 0.13, 0.14]


def _rows(sf, base):
    return max(1, int(round(base * sf)))


def _ts(start, micros):
    """Naive microsecond timestamps (parquet isAdjustedToUTC=false, like
    the fixture files)."""
    epoch = int((start - datetime.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(epoch + micros.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n, first, last):
    span = (last - first).days
    return rng.integers(0, span + 1, n).astype(np.int64) * 86_400 * 10**6


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf):
    """The ten tables at scale ``sf`` as pyarrow Tables, in generation order."""
    rng = np.random.default_rng(CONTENT_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc, ns, npart = _rows(sf, 150_000), _rows(sf, 10_000), _rows(sf, 200_000)
    no, nl = _rows(sf, 1_500_000), _rows(sf, 6_000_000)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    adj = ["small", "red", "blue", "large", "hot", "cold", "new", "old"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "anvil", "gizmo", "rod"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    d95 = datetime.datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _ts(d95, _days(rng, no, d95, datetime.datetime(2001, 8, 1))),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(d95, _days(rng, nl, datetime.datetime(1995, 1, 2),
                                     datetime.datetime(2001, 11, 4)))})
    ne, users = _rows(sf, 1_000_000), _rows(sf, 15_000)
    gaps = rng.exponential(30 * 86_400 * 10**6 / ne, ne)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(datetime.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], ne),
        "value": np.round(np.maximum(rng.lognormal(2.5, 1.0, ne), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = max(500, _rows(sf, 50_000))
    texts = []
    for _ in range(nd):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    # Planted duplicates: ~5% near-duplicates (a trailing marker token)
    # and a handful of exact copies, so the dedup operators have work.
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] += " dup"
    for src, dst in rng.integers(0, nd, (max(1, nd // 600), 2)):
        texts[dst] = texts[src]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv, dim = max(500, _rows(sf, 20_000)), 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, dim))
    vec = centers[labels] + rng.normal(0, 1.5, (nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir, sf, seed):
    """Writes ``<out_dir>/<table>.parquet`` for every table; returns names."""
    perm_rng = np.random.default_rng(seed)
    tables = build_tables(sf)
    for name, table in tables.items():
        if seed != 0:
            table = table.take(perm_rng.permutation(table.num_rows))
        pq.write_table(table, f"{out_dir}/{name}.parquet",
                       row_group_size=max(1, table.num_rows))
    return list(tables)


def word_bytes(ranks):
    """Words for Zipf ranks as a (bytes matrix, lengths) pair: bijective
    base 26, least significant letter first, so frequent ranks get short
    words and first letters spread evenly over the alphabet."""
    rest = ranks.astype(np.int64) + 1
    mat = np.zeros((len(ranks), 8), np.uint8)
    lens = np.zeros(len(ranks), np.int64)
    for j in range(mat.shape[1]):
        live = rest > 0
        if not live.any():
            break
        rest[live] -= 1
        mat[live, j] = 97 + rest[live] % 26
        lens[live] += 1
        rest[live] //= 26
    return mat[:, :max(1, int(lens.max()))], lens


def zipf_text(path, seed, target_bytes, vocab=1 << 23, exponent=0.9):
    """Writes about ``target_bytes`` of Zipf text to ``path``: tokens of a
    Zipf(``exponent``) law over ``vocab`` ranks, single spaces between
    tokens, 8 to 24 tokens a line.

    Returns ``(words, lens, counts)`` for every distinct word drawn: its
    bytes (see :func:`word_bytes`) and its exact number of occurrences."""
    rng = np.random.default_rng(seed)
    # Continuous inverse CDF of x^-exponent on [1, vocab + 1), floored to
    # a rank: O(1) per token, and the counts below are exact whatever the
    # law's fine print.
    a = 1.0 - exponent
    top = (vocab + 1.0) ** a - 1.0

    def draw(u):
        return np.minimum((1.0 + u * top) ** (1.0 / a), vocab).astype(np.int64) - 1

    probe = word_bytes(draw(rng.random(1 << 16)))[1]
    ntok = int(target_bytes / (probe.mean() + 1.0))
    ranks = draw(rng.random(ntok))
    counts = np.bincount(ranks, minlength=vocab)
    uniq = np.flatnonzero(counts)
    index = np.zeros(vocab, np.int64)
    index[uniq] = np.arange(len(uniq))
    inv = index[ranks]
    counts = counts[uniq]
    words, lens = word_bytes(uniq)
    tl = lens[inv]
    end = np.cumsum(tl + 1)
    start = end - tl - 1
    buf = np.full(int(end[-1]), ord(" "), np.uint8)
    for j in range(words.shape[1]):
        m = tl > j
        buf[start[m] + j] = words[inv[m], j]
    # The separator after a line's last token is '\n'.
    line_ends = np.cumsum(rng.integers(8, 25, ntok // 8 + 2)) - 1
    buf[end[line_ends[line_ends < ntok - 1]] - 1] = ord("\n")
    buf[-1] = ord("\n")
    with open(path, "wb") as f:
        f.write(buf.tobytes())
    return words, lens, counts


def reference_layout(words, lens, counts, reducers):
    """Expected bytes of every ``<job>-<R>.out`` file: a word goes to
    reducer ``first_byte % R`` (0 remapped to R), lines ``word count``
    sorted in byte order. Returns a list indexed by reducer - 1."""
    keys = np.ascontiguousarray(words).view(f"S{words.shape[1]}").ravel()
    order = np.argsort(keys, kind="stable")
    first = words[order, 0].astype(np.int64) % reducers
    part = np.where(first == 0, reducers, first) - 1
    out = []
    for r in range(reducers):
        sel = order[part == r]
        out.append(b"".join(b"%s %d\n" % (k, c) for k, c in
                            zip(keys[sel].tolist(), counts[sel].tolist())))
    return out


def check_reference_layout(out_dir, job, expected):
    """Compares ``<out_dir>/<job>-<R>.out`` with the expected bytes;
    returns a list of problems (empty when the output is correct)."""
    problems = []
    for r, want in enumerate(expected, 1):
        try:
            with open(f"{out_dir}/{job}-{r}.out", "rb") as f:
                got = f.read()
        except OSError as e:
            problems.append(f"{job}-{r}.out: {e}")
            continue
        if got != want:
            g, w = got.splitlines(), want.splitlines()
            first = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b),
                         min(len(g), len(w)))
            problems.append(f"{job}-{r}.out differs at line {first + 1}"
                            f" ({len(g)} lines, expected {len(w)})")
    return problems
