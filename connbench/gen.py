"""Deterministic, seed-driven inputs for the connector benchmark.

Every workload gets its own directory under ``<root>/seed-<n>/<workload>``
holding parquet files and a ``manifest.json`` that lists, per table, each
file with its row count, byte size and Delta-style stats, plus the seeded
op schedule the harness replays. The same seed always gives the same
bytes; a directory is reused when its manifest carries the current
GEN_VERSION, so generation stays out of every timed or set-up figure.

The inputs are synthetic stand-ins for TPC-H ``lineitem``/``orders`` and
a token ``documents`` corpus, built here so the benchmark reads nothing
outside its own checkout.
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 8
SCHEDULE_LEN = 512

# share_scan sizes: sf0.1 TPC-H cardinalities, 16 key-range files a table
N_ORDERS = 150_000
SCAN_FILES = 16
# share_cdf: a sliding window of small orders slices
CDF_POOL = 64
CDF_WINDOW = 32
CDF_HISTORY = 8
CDF_SLICE_ROWS = 512
CDF_TT_EVERY = 8
# curate_corpus: base docs, each present 4 times with token edits
CORPUS_BASE = 1_000
CORPUS_COPIES = 4
CORPUS_FILES = 8
ARRIVAL_BATCHES = 4
ARRIVAL_ROWS = 400

EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02

VOCAB = (
    "the and of is with a data spark query table row column key value "
    "join group sort filter scan hash merge window stream batch line part "
    "order customer vector small big fast slow agg index shard replica "
    "commit version schema share file range footer page split task stage "
    "shuffle spill memory cache token corpus dedup quality score model "
    "train eval metric loss label").split()


def _money(cents):
    """Hundredths as doubles with two decimals."""
    return pa.array(np.round(cents / 100.0, 2), pa.float64())


def _strings(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx])


def _iso(days):
    return str(np.datetime64(int(days), "D"))


def _stats(table):
    """Delta-style per-file stats JSON over every column."""
    mins, maxs, nulls = {}, {}, {}
    for name in table.column_names:
        col = table.column(name)
        lo_hi = pa.compute.min_max(col).as_py()
        lo, hi = lo_hi["min"], lo_hi["max"]
        if lo is None:
            continue
        if pa.types.is_date(col.type):
            lo, hi = lo.isoformat(), hi.isoformat()
        mins[name], maxs[name], nulls[name] = lo, hi, col.null_count
    return json.dumps({"numRecords": table.num_rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls},
                      separators=(",", ":"))


def _write(table, root, rel, partition_values=None):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return {"path": rel, "rows": table.num_rows,
            "bytes": os.path.getsize(path), "stats": _stats(table),
            "partitionValues": partition_values or {}}


def _table_entry(files, partition_columns=()):
    return {"files": files, "partitionColumns": list(partition_columns),
            "rows": sum(f["rows"] for f in files),
            "bytes": sum(f["bytes"] for f in files)}


def _orders(rng, keys, day0=EPOCH_1992, days=ORDER_DAYS):
    n = len(keys)
    dates = day0 + rng.integers(0, days, n)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_001, n), pa.int64()),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n)),
        "o_totalprice": _money(rng.integers(90_000, 50_000_000, n)),
        "o_orderdate": pa.array(dates.astype(np.int32), pa.date32()),
        "o_orderpriority": _strings(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            rng.integers(0, 5, n)),
    }), dates


def _lineitem(rng, okeys, odates):
    per = rng.integers(1, 8, len(okeys))
    keys = np.repeat(okeys, per)
    n = len(keys)
    starts = np.repeat(np.cumsum(per) - per, per)
    linenum = np.arange(n) - starts + 1
    qty = rng.integers(1, 51, n)
    price = rng.integers(90_000, 200_000, n)  # unit price in cents
    ship = np.repeat(odates, per) + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n), pa.int64()),
        "l_linenumber": pa.array(linenum.astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": _money(qty * price),
        "l_discount": _money(rng.integers(0, 11, n)),
        "l_tax": _money(rng.integers(0, 9, n)),
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n)),
        "l_shipdate": pa.array(ship.astype(np.int32), pa.date32()),
    })


def _share_scan(rng, out):
    okeys = np.arange(1, N_ORDERS + 1)
    orders, odates = _orders(rng, okeys)
    lineitem = _lineitem(rng, okeys, odates)
    bounds = np.linspace(0, N_ORDERS, SCAN_FILES + 1).astype(int)
    lkeys = lineitem.column("l_orderkey").to_numpy()
    ofiles, lfiles = [], []
    for i in range(SCAN_FILES):
        lo, hi = bounds[i], bounds[i + 1]
        ofiles.append(_write(orders.slice(lo, hi - lo), out,
                             f"orders/part-{i:02d}.parquet"))
        a, b = np.searchsorted(lkeys, [lo + 1, hi + 1])
        lfiles.append(_write(lineitem.slice(a, b - a), out,
                             f"lineitem/part-{i:02d}.parquet"))

    def rows_in_range(lo, hi):
        return sum(f["rows"] for f in lfiles
                   if json.loads(f["stats"])["minValues"]["l_orderkey"] <= hi
                   and json.loads(f["stats"])["maxValues"]["l_orderkey"] >= lo)

    width = N_ORDERS // 40
    variants = {
        "agg": [{"shipdate_max": _iso(EPOCH_1992 + ORDER_DAYS + 121 - d)}
                for d in rng.integers(60, 121, 2)],
        "sel": [{"lo": int(lo), "hi": int(lo + width)}
                for lo in rng.integers(1, N_ORDERS - width, 8)],
        "limit": [{"n": int(n)} for n in rng.integers(500, 2001, 2)],
        "join": [{"date_lo": f"{y}-01-01", "date_hi": f"{y + 1}-01-01"}
                 for y in rng.choice(np.arange(1993, 1998), 2, replace=False)],
    }
    l_rows, o_rows = lineitem.num_rows, orders.num_rows
    rows = {"agg": lambda p: l_rows,
            "sel": lambda p: rows_in_range(p["lo"], p["hi"]),
            "limit": lambda p: p["n"],
            "join": lambda p: l_rows + o_rows}
    pool = [{"id": f"{t}{i}", "type": t, "params": p, "rows": rows[t](p)}
            for t, ps in variants.items() for i, p in enumerate(ps)]
    # blocks of eight: three full aggregates, three joins, one selective
    # and one limit query. The long ops are three quarters of a block, so
    # from 16 ops on the median and the tail both fall among them. Each
    # type alternates its entry point from one occurrence to the next.
    block = ["agg"] * 3 + ["join"] * 3 + ["sel", "limit"]
    flips = {t: int(rng.integers(0, 2)) for t in variants}
    seen = {t: 0 for t in variants}
    schedule = []
    while len(schedule) < SCHEDULE_LEN:
        for k in rng.permutation(len(block)):
            t = block[k]
            v = int(rng.integers(0, len(variants[t])))
            entry = ("v1", "sql")[(seen[t] + flips[t]) % 2]
            seen[t] += 1
            schedule.append({"op": f"{t}{v}", "entry": entry})
    return {"tables": {"lineitem": _table_entry(lfiles),
                       "orders": _table_entry(ofiles)},
            "pool": pool, "schedule": schedule}


def _share_cdf(rng, out):
    files = []
    for j in range(CDF_POOL):
        keys = j * 10_000 + 1 + np.sort(
            rng.choice(10_000, CDF_SLICE_ROWS, replace=False))
        table, _ = _orders(rng, keys)
        files.append(_write(table, out, f"pool/slice-{j:03d}.parquet"))
    schedule = []
    for c in range(SCHEDULE_LEN):
        back = int(rng.integers(1, 17)) if c % CDF_TT_EVERY == CDF_TT_EVERY - 1 else 0
        schedule.append({"tt_back": back})
    return {"tables": {"pool": _table_entry(files)},
            "cdf": {"window": CDF_WINDOW, "history": CDF_HISTORY,
                    "slice_rows": CDF_SLICE_ROWS},
            "schedule": schedule}


def _docs(rng, n):
    """n token docs; each doc draws mostly from one of two vocab halves,
    so quality scores spread instead of clustering on one value."""
    half = len(VOCAB) // 2
    out = []
    for style in rng.integers(0, 2, n):
        length = int(rng.integers(30, 81))
        base = 0 if style else half
        idx = np.where(rng.random(length) < 0.75,
                       base + rng.integers(0, half, length),
                       rng.integers(0, len(VOCAB), length))
        out.append([VOCAB[i] for i in idx])
    return out


def _edit(rng, tokens, k):
    t = list(tokens)
    for pos in rng.choice(len(t), k, replace=False):
        t[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return t


def _doc_table(ids, docs, rng):
    texts = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": _strings(["en", "de", "fr", "es"], rng.integers(0, 4, len(ids))),
        "source": _strings([f"src{i}" for i in range(8)],
                           rng.integers(0, 8, len(ids))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _curate_corpus(rng, out):
    base = _docs(rng, CORPUS_BASE)
    docs, ids = [], []
    for copy in range(CORPUS_COPIES):
        for i, d in enumerate(base):
            ids.append(copy * CORPUS_BASE + i)
            docs.append(d if copy == 0 else _edit(rng, d, 1))
    order = rng.permutation(len(ids))
    corpus = _doc_table(np.asarray(ids)[order], [docs[i] for i in order], rng)
    bounds = np.linspace(0, corpus.num_rows, CORPUS_FILES + 1).astype(int)
    cfiles = [_write(corpus.slice(bounds[i], bounds[i + 1] - bounds[i]), out,
                     f"corpus/part-{i:02d}.parquet")
              for i in range(CORPUS_FILES)]
    next_id = len(ids)
    afiles = []
    for b in range(ARRIVAL_BATCHES):
        n_dup = ARRIVAL_ROWS // 2
        src = rng.choice(len(docs), n_dup, replace=False)
        bdocs = [_edit(rng, docs[i], 1) for i in src]
        bdocs += _docs(rng, ARRIVAL_ROWS - n_dup)
        bids = np.arange(next_id, next_id + ARRIVAL_ROWS)
        next_id += ARRIVAL_ROWS
        afiles.append(_write(_doc_table(bids, bdocs, rng), out,
                             f"arrivals/batch={b}/part-0.parquet",
                             {"batch": str(b)}))
    schedule = []
    while len(schedule) < SCHEDULE_LEN:
        schedule += [{"batch": str(int(b))}
                     for b in rng.permutation(ARRIVAL_BATCHES)]
    return {"tables": {"corpus": _table_entry(cfiles),
                       "arrivals": _table_entry(afiles, ["batch"])},
            "schedule": schedule}


BUILDERS = {"share_scan": _share_scan, "share_cdf": _share_cdf,
            "curate_corpus": _curate_corpus}


def generate(root, workload, seed):
    """Return the directory holding ``workload``'s inputs for ``seed``,
    generating it first unless a current copy is cached."""
    out = os.path.join(root, f"seed-{seed}", workload)
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f).get("gen_version") == GEN_VERSION:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per (workload, seed): workloads never perturb each other
    rng = np.random.default_rng([seed, sorted(BUILDERS).index(workload)])
    body = BUILDERS[workload](rng, tmp)
    body.update({"gen_version": GEN_VERSION, "workload": workload,
                 "seed": seed})
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(body, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def sizes(manifest):
    """Generated sizes per table (files, rows, bytes) for result files."""
    return {name: {"files": len(t["files"]), "rows": t["rows"],
                   "bytes": t["bytes"]}
            for name, t in manifest["tables"].items()}
