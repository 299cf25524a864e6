"""Copy the benchmark's share of the engine's sf0.1 fixture into this directory.

    python3 perfbench/fixture/extract.py <sf0.1 fixture dir>

The fixture is the parquet table set described in TESTDATA.md. The
benchmark cannot read it at run time (a run reads only its own checkout),
so the tables it needs are kept here and `perfbench/gen.py` makes every
run's inputs from them. Tables a workload operation reads are copied whole;
tables that are only registered (schema and footer) are cut down so the
checkout stays small. `MANIFEST.json` records each table's rows here and
in the fixture.
"""
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "sf0.1")

# read by er_core, index_lifecycle or the traced kernel timings: whole
WHOLE = ("part", "customer", "documents", "nation", "region", "supplier")
# orders of every tenth customer (q32 nests orders per customer, so each
# kept customer keeps all of its orders); the other tables are only
# registered: lineitem of every hundredth customer's orders, the first
# events, and the 400 embeddings the cosine timing reads
ORDERS_EVERY = 10
LINEITEM_EVERY = 100
EVENTS_HEAD = 5000
EMBEDDINGS_HEAD = 400


def main(src):
    os.makedirs(OUT, exist_ok=True)
    manifest = {}

    def rows(name, d):
        return pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows

    for name in WHOLE:
        shutil.copyfile(os.path.join(src, f"{name}.parquet"), os.path.join(OUT, f"{name}.parquet"))
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    cust = orders["o_custkey"].to_numpy()
    pq.write_table(orders.filter(pa.array(cust % ORDERS_EVERY == 0)),
                   os.path.join(OUT, "orders.parquet"))
    few = orders.filter(pa.array(cust % LINEITEM_EVERY == 0))["o_orderkey"]
    lineitem = pq.read_table(os.path.join(src, "lineitem.parquet"))
    pq.write_table(lineitem.filter(pc.is_in(lineitem["l_orderkey"], value_set=few)),
                   os.path.join(OUT, "lineitem.parquet"))
    pq.write_table(pq.read_table(os.path.join(src, "events.parquet")).slice(0, EVENTS_HEAD),
                   os.path.join(OUT, "events.parquet"))
    pq.write_table(pq.read_table(os.path.join(src, "embeddings.parquet")).slice(0, EMBEDDINGS_HEAD),
                   os.path.join(OUT, "embeddings.parquet"))
    for name in sorted(os.listdir(OUT)):
        t = name[:-len(".parquet")]
        manifest[t] = {"rows": rows(t, OUT), "fixture_rows": rows(t, src)}
    with open(os.path.join(HERE, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
