"""Seeded inputs for the benchmark workloads, made from the sf0.1 fixture.

`perfbench/fixture/sf0.1` holds the engine's sf0.1 fixture tables (whole,
or cut down where no workload operation reads them; see
`fixture/MANIFEST.json` and `fixture/extract.py`). Every run's inputs are
made from those rows and the seed alone, so the program under test sees
only generated inputs, and the same (workload, seed) always yields
byte-identical tables.

- er_core: BLOCK parts of one brand of `part` (the fuzzy join blocks by
  brand, so its block keeps about the fixture's size, and every seed gets
  the same block size) and all of `customer`, each replicated REPLICAS
  times; every copy after the first is perturbed per
  row (token reorder, one character edit, or a fresh name), so blocks and
  clusters grow the way real near-duplicates do rather than as k-way
  exact copies. Plus the `issues`, `tickers` and `executives` tables of the
  reference pipelines, which the fixture does not have, covering the
  FIXTURES.md cases.
- index_lifecycle: DOCUMENTS fixture documents, drawn by the seed, in a
  seeded split into an initial build and BATCHES ingest batches.

Every other table is the fixture's, copied.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("er_core", "index_lifecycle")
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.1")
TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

BLOCK = 750     # er_core: parts of one brand drawn per seed (the fixture's
                # brands, the fuzzy-join blocks, hold 759 to 861 parts)
REPLICAS = 3    # er_core: copies of those parts and of every customer
DOCUMENTS = 1000  # index_lifecycle: fixture documents drawn per seed
BATCHES = 1     # index_lifecycle: ingest batches after the initial build

FRESH = ["steel", "brass", "copper", "iron", "chrome", "matte", "shiny",
         "spring", "valve", "clamp", "hinge", "latch", "nozzle", "spindle"]
ISSUES = ["climate", "labor", "privacy", "governance", "diversity", "safety",
          "lobbying", "water"]
FIRST = ["john", "mary", "wei", "ana", "omar", "lena", "raj", "sofia", "ivan",
         "kim", "paul", "nora", "elon", "grace", "tom", "yuki"]
LAST = ["smith", "garcia", "chen", "patel", "musk", "novak", "silva", "khan",
        "muller", "rossi", "tanaka", "brown", "lopez", "ito", "dubois", "berg"]
TITLES = ["ceo", "cfo", "cto", "director", "vp sales", "chair", "coo"]
CITIES = ["austin tx", "boston ma", "denver co", "miami fl", "seattle wa"]
COMPANIES = 60
EXECUTIVES = 240


def _read(name):
    return pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))


def _edit(rng, s):
    """One random character substitution, insertion or deletion."""
    i = int(rng.integers(0, len(s)))
    c = chr(ord("a") + int(rng.integers(0, 26)))
    op = int(rng.integers(0, 3))
    if op == 0:
        return s[:i] + c + s[i + 1:]
    if op == 1:
        return s[:i] + c + s[i:]
    return s[:i] + s[i + 1:] if len(s) > 3 else s + c


def _perturb(rng, name):
    """A near-duplicate of `name`: unchanged, token reorder, one edit, or a
    fresh first token."""
    u = rng.random()
    toks = name.split()
    if u < 0.35:
        return name
    if u < 0.55 and len(toks) > 1:
        return " ".join(toks[::-1])
    if u < 0.9:
        return _edit(rng, name)
    return f"{FRESH[int(rng.integers(0, len(FRESH)))]} {toks[-1]}"


def _replicate(rng, table, key, name, perturb):
    """`table` REPLICAS times: copy 0 as is, later copies with fresh keys
    (after the largest) and each row's `name` passed through `perturb`."""
    keys = table[key].to_numpy()
    names = table[name].to_pylist()
    step = int(keys.max()) + 1
    copies = [table]
    for r in range(1, REPLICAS):
        t = table.set_column(table.schema.get_field_index(key), key,
                             pa.array(keys + r * step, table.schema.field(key).type))
        t = t.set_column(t.schema.get_field_index(name), name,
                         pa.array([perturb(rng, s) for s in names], pa.string()))
        copies.append(t)
    return pa.concat_tables(copies)


def generate(workload, seed, out):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; known: {', '.join(WORKLOADS)}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out, exist_ok=True)
    sizes = {}

    def put(name, table):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        sizes[name] = table.num_rows

    made = {}
    if workload == "er_core":
        part = _read("part")
        brand = part["p_brand"].to_numpy(zero_copy_only=False)
        rows = np.flatnonzero(brand == rng.choice(np.unique(brand)))
        part = part.take(np.sort(rng.choice(rows, BLOCK, replace=False)))
        made["part"] = _replicate(rng, part, "p_partkey", "p_name", _perturb)
        made["customer"] = _replicate(rng, _read("customer"), "c_custkey", "c_name",
                                      lambda g, s: _edit(g, s) if g.random() < 0.6 else s)
    else:
        docs = _read("documents")
        docs = docs.take(np.sort(rng.choice(docs.num_rows, DOCUMENTS, replace=False)))
        made["documents"] = docs
        # a seeded split into equal shares: batch 0 is the initial build,
        # 1..BATCHES the ingests
        made["batches"] = pa.table({
            "doc_id": docs["doc_id"],
            "batch": pa.array(rng.permutation(np.arange(docs.num_rows) % (BATCHES + 1)),
                              pa.int32())})
    for name in TABLES:
        if name in made:
            continue
        shutil.copyfile(os.path.join(FIXTURE, f"{name}.parquet"),
                        os.path.join(out, f"{name}.parquet"))
        sizes[name] = pq.ParquetFile(os.path.join(out, f"{name}.parquet")).metadata.num_rows
    for name, table in made.items():
        put(name, table)
    if workload == "er_core":
        for name, table in _reference_tables(rng).items():
            put(name, table)
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f, sort_keys=True)
    return sizes


def _reference_tables(rng):
    """issues / tickers / executives covering the FIXTURES.md cases."""
    tick = [f"T{i:03d}" for i in range(COMPANIES)]
    rows = []
    for i, t in enumerate(tick):
        k = 8 if i % 7 else 7  # a company with != 8 issues
        for iss in ISSUES[:k]:
            vals = [str(x) for x in np.round(rng.uniform(0, 100, 3), 2)]
            if rng.random() < 0.05:
                vals[int(rng.integers(0, 3))] = "n/a"  # junk numeric -> 0.0
            rows.append([(" " + t.lower()) if i % 5 == 0 else t, iss] + vals)
            if rng.random() < 0.04:  # duplicate (ticker, issue): last wins
                rows.append([t, iss] + [str(x) for x in np.round(rng.uniform(0, 100, 3), 2)])
    rows.append(["NAN", "climate", "1", "2", "3"])   # invalid ticker, dropped
    rows.append(["T999", "climate", "1", "2", "3"])  # unmapped ticker
    rows.append(["T001", "", "1", "2", "3"])         # empty issue, dropped
    cols = list(zip(*rows))

    recs = []
    while len(recs) < EXECUTIVES:
        f, l = FIRST[int(rng.integers(0, len(FIRST)))], LAST[int(rng.integers(0, len(LAST)))]
        name = f"{f} {l}"
        title = TITLES[int(rng.integers(0, len(TITLES)))]
        city = CITIES[int(rng.integers(0, len(CITIES)))]
        comp = f"company {int(rng.integers(0, 40))}"
        recs.append((name, title, city, comp))
        u = rng.random()
        if u < 0.25:
            recs.append((name, title, city, comp))                 # exact duplicate
        elif u < 0.45:
            recs.append((f"{l}, {f}", title, city, comp))          # name-order variant
        elif u < 0.55:
            recs.append((name, title, city, f"company {int(rng.integers(40, 80))}"))  # multi-company
        elif u < 0.65:
            recs.append((_edit(rng, name), "", city, comp))        # borderline, missing title
        elif u < 0.7:
            recs.append((name, title, "", comp))                   # missing address
    ex = list(zip(*recs[:EXECUTIVES]))
    return {
        # synonym-named columns (role resolution path)
        "issues": pa.table({"COMPANY_TICKER": list(cols[0]), "issue": list(cols[1]),
                            "against_amount": list(cols[2]), "neutral": list(cols[3]),
                            "for": list(cols[4])}),
        "tickers": pa.table({"ticker": tick, "company_id": [f"co{i}" for i in range(COMPANIES)]}),
        "executives": pa.table({"executive_name": list(ex[0]), "job_title": list(ex[1]),
                                "location": list(ex[2]), "company_name": list(ex[3])}),
    }


if __name__ == "__main__":
    import sys
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(w, s, o)))
