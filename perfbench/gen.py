"""Seeded input generators for the benchmark workloads.

Each generator draws every value from ``numpy.random.default_rng(seed)``,
so one seed gives byte-identical files and another seed changes values,
not just row order. Sizes are fixed per workload and never depend on the
seed. Domains mirror the sf0.1 test tables (TESTDATA.md) and the
reference's I94 inputs (FIXTURES.md sections 1-4); the constants below
were read off those tables once, so generation needs no input files.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
Prints one JSON object: {table: {"rows": n, "bytes": b}}.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- star_etl: I94-shaped months (FIXTURES.md section 1) ---------------
STAR_MONTHS = (4, 5, 6)  # 2016-04 .. 2016-06
STAR_ROWS_PER_MONTH = 100_000
STAR_FILES_PER_MONTH = 2
STAR_STATES = 49
STAR_CITIES = 600
STAR_COUNTRIES = 289
RACES = (
    "White",
    "Hispanic or Latino",
    "Asian",
    "Black or African-American",
    "American Indian and Alaska Native",
)
PORTS = ("NYC", "MIA", "LOS", "SFR", "HHW", "CHI", "ORL", "NEW", "ATL", "WAS")
AIRLINES = ("DL", "TK", "AA", "UA", "BA", "LH", "AF", "VS")
VISATYPES = ("B1", "B2", "WT", "WB", "F1", "E2", "CP", "GMT")

# --- catalog_mix, relational part: TPC-H orders ------------------------
TPCH_COPIES = 10
TPCH_ORDERS = 7_500  # per copy, with TPCH_CUSTOMERS customer keys
TPCH_CUSTOMERS = 750
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DATE_LO = dt.datetime(1995, 1, 1)
DATE_DAYS = 2500

# --- catalog_mix, text part: sf0.1-sized corpus, sf0.1 vocabulary -----
CORPUS_DOCS = 600
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_WORDS = (10, 100)  # uniform length range, as in sf0.1
NEAR_DUP_SHARE = 0.05  # planted duplicates; all but the exact ones have
EXACT_DUP_SHARE = 0.002  # 10% of their words replaced
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
SOURCES = 20

# --- catalog_mix, ANN part: sf0.1-sized embeddings -------------------
ANN_VECTORS = 500
ANN_DIM = 64
ANN_LABELS = 10
# sf0.1's per-label fit: centroid norms ~0.07 and a per-dimension
# residual std of 1/sqrt(64) on unit-normalized vectors.
ANN_CENTROID_STD = 0.009
ANN_RESIDUAL_STD = 0.125


def _write(table: pa.Table, path: str) -> None:
    # One file with one row group: the layout of the test tables, which the
    # engine's small-scan fan-out decision reads.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _nullify(rng, arr, share):
    arr = arr.astype(object)
    arr[rng.random(len(arr)) < share] = None
    return arr


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, lo=0, hi=DATE_DAYS):
    base = np.datetime64(DATE_LO, "us")
    return base + rng.integers(lo, hi, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def gen_star(rng, out: str) -> None:
    os.makedirs(f"{out}/immigration", exist_ok=True)
    states = [f"{chr(65 + i // 26)}{chr(65 + i % 26)}" for i in range(STAR_STATES)]
    codes = np.sort(rng.choice(np.arange(101, 761), STAR_COUNTRIES, replace=False))
    names = [f"COUNTRY {int(c)}" for c in codes]
    names[0] = "INVALID: MIDWAY ISLANDS"
    names[-1] = f"No Country Code ({int(codes[-1])})"
    with open(f"{out}/country_lookup.csv", "w") as f:
        f.write("Code,I94CTRY\n")
        for c, n in zip(codes, names):
            f.write(f'{int(c)},"{n}"\n')
    # Temperatures: several cities per country, mixed-case names that
    # only match the lookup after case normalization; some NULLs.
    with open(f"{out}/temperature.csv", "w") as f:
        f.write("dt,AverageTemperature,AverageTemperatureUncertainty,City,Country\n")
        for i, n in enumerate(names):
            for j in range(3):
                t = rng.normal(15, 8)
                temp = "" if rng.random() < 0.1 else f"{t:.3f}"
                f.write(f'2013-0{j + 1}-01,{temp},{abs(t) / 20:.3f},City{i}_{j},"{n.title()}"\n')
    # Demographics: one row per (city, race); the pipeline collapses
    # them to one row per (City, State, State Code).
    with open(f"{out}/demographics.csv", "w") as f:
        f.write(
            "City;State;Median Age;Male Population;Female Population;"
            "Number of Veterans;Foreign-born;Average Household Size;"
            "Total Population;State Code;Race;Count\n"
        )
        for c in range(STAR_CITIES):
            s = c % STAR_STATES
            age = round(float(rng.uniform(25, 50)), 1)
            male, female = (int(x) for x in rng.integers(20_000, 400_000, 2))
            for race in RACES:
                f.write(
                    f"City {c};State {s};{age};{male};{female};"
                    f"{int(rng.integers(1000, 30000))};{int(rng.integers(1000, 90000))};"
                    f"{rng.uniform(2, 4):.2f};{male + female};{states[s]};{race};"
                    f"{int(rng.integers(100, 100000))}\n"
                )
    sas_epoch = dt.date(1960, 1, 1)
    cicid = 0
    for mon in STAR_MONTHS:
        first = (dt.date(2016, mon, 1) - sas_epoch).days
        ndays = (dt.date(2016, mon + 1, 1) - dt.date(2016, mon, 1)).days
        n = STAR_ROWS_PER_MONTH
        arr = first + rng.integers(0, ndays, n)
        dep = arr + rng.integers(1, 60, n)
        birth = rng.integers(0, 100, n)
        mode = rng.choice([1.0, 2.0, 3.0, 9.0, np.nan], n, p=[0.9, 0.02, 0.05, 0.01, 0.02])
        cols = {
            "cicid": np.arange(cicid, cicid + n, dtype=np.float64),
            "i94yr": np.full(n, 2016.0),
            "i94mon": np.full(n, float(mon)),
            "i94cit": rng.choice(codes, n).astype(np.float64),
            "i94res": rng.choice(codes, n).astype(np.float64),
            "i94port": _choice(rng, PORTS, n),
            "arrdate": arr.astype(np.float64),
            "i94mode": mode,
            "i94addr": _nullify(rng, _choice(rng, states, n), 0.05),
            "depdate": np.where(rng.random(n) < 0.05, np.nan, dep),
            "i94bir": birth.astype(np.float64),
            "i94visa": rng.choice([1.0, 2.0, 3.0], n, p=[0.15, 0.8, 0.05]),
            "count": np.ones(n),
            "dtadfile": _choice(rng, [f"2016{mon:02d}{d:02d}" for d in range(1, ndays + 1)], n),
            "visapost": _nullify(rng, _choice(rng, ("SYD", "BNS", "MEX"), n), 0.6),
            "occup": _nullify(rng, _choice(rng, ("STU", "OTH"), n), 0.99),
            "entdepa": _choice(rng, ("G", "O", "T"), n),
            "entdepd": _nullify(rng, _choice(rng, ("O", "R", "D"), n), 0.05),
            "entdepu": _nullify(rng, _choice(rng, ("U", "Y"), n), 0.99),
            "matflag": _nullify(rng, np.full(n, "M", dtype=object), 0.05),
            "biryear": (2016 - birth).astype(np.float64),
            "dtaddto": _choice(rng, ("10292016", "07152016", "D/S"), n),
            "gender": _nullify(rng, _choice(rng, ("F", "M"), n), 0.1),
            "insnum": _nullify(rng, _choice(rng, ("3943", "3668"), n), 0.96),
            "airline": _nullify(rng, _choice(rng, AIRLINES, n), 0.03),
            "admnum": rng.integers(5e10, 9.5e10, n).astype(np.float64),
            "fltno": _nullify(rng, _choice(rng, ("00469", "00101", "LAND"), n), 0.6),
            "visatype": _choice(rng, VISATYPES, n),
        }
        table = pa.table({
            k: pa.array(v, pa.string()) if v.dtype == object
            else pa.array(v, pa.float64(), mask=np.isnan(v))
            for k, v in cols.items()
        })
        step = n // STAR_FILES_PER_MONTH
        for p in range(STAR_FILES_PER_MONTH):
            _write(table.slice(p * step, step), f"{out}/immigration/part-{mon:02d}-{p}.parquet")
        cicid += n


def gen_orders(rng, out: str) -> None:
    """orders, the table the relational rows read, as TPCH_COPIES copies of
    an sf0.005-sized base: keys shifted by the base key space per copy,
    measure and date columns re-drawn per copy."""
    n, c = TPCH_ORDERS, TPCH_COPIES
    keys = np.concatenate([np.arange(n) + k * n for k in range(c)])
    custkeys = np.concatenate([rng.integers(0, TPCH_CUSTOMERS, n) + k * TPCH_CUSTOMERS
                               for k in range(c)])
    m = n * c
    _write(pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(custkeys, pa.int64()),
        "o_orderstatus": pa.array(_choice(rng, ("F", "O", "P"), m)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, m)),
        "o_orderdate": pa.array(_days(rng, m)),
        "o_orderpriority": pa.array(_choice(rng, PRIORITIES, m)),
    }), f"{out}/orders.parquet")


def gen_corpus(rng, out: str) -> None:
    # A fixed number of duplicates, all in the second half and each copied
    # from an original in the first half: every duplicate cluster is a star,
    # so the clustering work varies little with the seed.
    vocab = np.asarray(VOCAB, dtype=object)
    half = CORPUS_DOCS // 2
    n_exact = round(EXACT_DUP_SHARE * CORPUS_DOCS)
    dups = rng.choice(np.arange(half, CORPUS_DOCS), round(NEAR_DUP_SHARE * CORPUS_DOCS),
                      replace=False)
    exact, near = set(dups[:n_exact].tolist()), set(dups[n_exact:].tolist())
    docs: list[str] = []
    for i in range(CORPUS_DOCS):
        if i in exact:
            docs.append(docs[int(rng.integers(0, half))])
        elif i in near:
            words = docs[int(rng.integers(0, half))].split()
            k = max(1, len(words) // 10)
            for p in rng.choice(len(words), size=k, replace=False):
                words[p] = vocab[int(rng.integers(0, len(vocab)))]
            docs.append(" ".join(words))
        else:
            n_w = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
            docs.append(" ".join(vocab[rng.integers(0, len(vocab), n_w)]))
    _write(pa.table({
        "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(_choice(rng, LANGS, CORPUS_DOCS), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, SOURCES, CORPUS_DOCS)]),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    }), f"{out}/documents.parquet")


def gen_ann(rng, out: str) -> None:
    cent = rng.normal(0, ANN_CENTROID_STD, (ANN_LABELS, ANN_DIM))
    labels = rng.integers(0, ANN_LABELS, ANN_VECTORS)
    mat = cent[labels] + rng.normal(0, ANN_RESIDUAL_STD, (ANN_VECTORS, ANN_DIM))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    flat = pa.array(mat.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, ANN_VECTORS * ANN_DIM + 1, ANN_DIM, dtype=np.int32))
    _write(pa.table({
        "vec_id": pa.array(range(ANN_VECTORS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), f"{out}/embeddings.parquet")


def gen_catalog(rng, out: str) -> None:
    """The relational, text and ANN tables side by side, each part drawn
    from its own child generator so that no part shifts another's draws."""
    for part, child in zip((gen_orders, gen_corpus, gen_ann), rng.spawn(3)):
        part(child, out)


GENERATORS = {"star_etl": gen_star, "catalog_mix": gen_catalog}


def manifest(out: str) -> dict[str, dict[str, int]]:
    """Rows and bytes per input table (a directory counts as one table)."""
    tables: dict[str, dict[str, int]] = {}
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        rows = 0
        for f in files:
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(f).metadata.num_rows
            else:
                with open(f) as fh:
                    rows += sum(1 for _ in fh) - 1
        tables[name.split(".")[0]] = {
            "rows": rows, "bytes": sum(os.path.getsize(f) for f in files)}
    return tables


def generate(workload: str, seed: int, out: str) -> dict[str, dict[str, int]]:
    """Write ``workload``'s inputs for ``seed`` into ``out`` (created)."""
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](np.random.default_rng(seed), out)
    return manifest(out)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{','.join(GENERATORS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
