"""`__spark_entry__._spread`: the row-group probe over directory-layout parquet."""

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry


def _write_parts(directory, n_files, row_group_size):
    directory.mkdir()
    for i in range(n_files):
        pq.write_table(pa.table({"x": list(range(i * 30, i * 30 + 30))}),
                       directory / f"part-{i:05d}.parquet",
                       row_group_size=row_group_size)
    (directory / "_SUCCESS").write_bytes(b"")
    return str(directory)


def test_spread_sums_row_groups_of_part_files(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    assert n % 2 == 0
    many = _write_parts(tmp_path / "many", n // 2, row_group_size=15)
    df = spark.read.parquet(many)
    assert entry._spread(df, many) is df
    assert entry._PARQUET_RG_CACHE[many] == n

    few = _write_parts(tmp_path / "few", 2, row_group_size=30)
    df = spark.read.parquet(few)
    spread = entry._spread(df, few)
    assert entry._PARQUET_RG_CACHE[few] == 2
    assert spread.rdd.getNumPartitions() == n
    assert sorted(r.x for r in spread.collect()) == list(range(60))
