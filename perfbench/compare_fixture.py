"""Compare the generated analytics corpus with an sf0.1 fixture.

    python3 perfbench/compare_fixture.py FIXTURE_DIR

The benchmark reads and writes only inside its checkout, so it cannot
read the engine's sf0.1 fixture; it times a corpus that ``corpus.py``
generates in the fixture's shape. This script shows how close that shape
is: per table the schema and row count, per column the distinct count,
range and mean (string columns: their lengths), and per headline query
the row count of its DuckDB oracle on both corpora. Exit status is 1 if
a schema or a table's row count differs.
"""

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus
from workloads import HEADLINE


def stats(col: pa.ChunkedArray) -> str:
    if pa.types.is_list(col.type):
        lengths = pc.list_value_length(col)
        return f"length {pc.min(lengths).as_py()}..{pc.max(lengths).as_py()}"
    if pa.types.is_string(col.type):
        lengths = pc.utf8_length(col)
        return (f"distinct {pc.count_distinct(col).as_py()} length "
                f"{pc.min(lengths).as_py()}..{pc.max(lengths).as_py()} "
                f"mean {pc.mean(lengths).as_py():.1f}")
    mm = pc.min_max(col)
    out = f"distinct {pc.count_distinct(col).as_py()} {mm['min'].as_py()}..{mm['max'].as_py()}"
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
        out += f" mean {pc.mean(col).as_py():.4g}"
    return out


def oracle_rows(sf_dir: str, specs: dict) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    for t in corpus.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return {n: len(con.sql(specs[n].oracle).fetchall()) for n in HEADLINE if specs[n].oracle}


def main(fixture: str) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from batch_processing_new_spark.registry import all_specs

    gen = os.path.join(root, ".perfbench_work", f"compare-{os.getpid()}")
    try:
        corpus.build_sf01(gen)
        differs = 0
        for t in corpus.TABLES:
            a = pq.read_table(os.path.join(fixture, f"{t}.parquet"))
            b = pq.read_table(os.path.join(gen, f"{t}.parquet"))
            same = a.schema.remove_metadata().equals(b.schema.remove_metadata())
            differs += not same or a.num_rows != b.num_rows
            print(f"{t}: rows {a.num_rows} fixture, {b.num_rows} generated; "
                  f"schema {'equal' if same else 'DIFFERS'}")
            for c in a.column_names:
                if c in b.column_names:
                    print(f"  {c:<16} fixture   {stats(a[c])}\n  {'':<16} generated {stats(b[c])}")
        specs = all_specs()
        want, got = oracle_rows(fixture, specs), oracle_rows(gen, specs)
        print("oracle result rows (fixture, generated):")
        for n in want:
            print(f"  {n:<28} {want[n]:>7} {got[n]:>7}")
        return 1 if differs else 0
    finally:
        shutil.rmtree(gen, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
