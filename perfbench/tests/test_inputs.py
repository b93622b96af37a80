import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.inputs import generate
from perfbench.oracle import content_digest


def _source(dir_):
    dir_.mkdir()
    t = pa.table({"k": list(range(12)), "v": [f"r{i}" for i in range(12)]})
    with pq.ParquetWriter(dir_ / "t.parquet", t.schema, compression="snappy") as w:
        w.write_table(t.slice(0, 7))
        w.write_table(t.slice(7, 5))
    return dir_


def test_same_seed_gives_identical_files(tmp_path):
    src = _source(tmp_path / "src")
    generate(src, tmp_path / "a", ["t"], seed=3)
    generate(src, tmp_path / "b", ["t"], seed=3)
    assert (tmp_path / "a" / "t.parquet").read_bytes() == (tmp_path / "b" / "t.parquet").read_bytes()


def test_seed_permutes_rows_and_keeps_layout(tmp_path):
    src = _source(tmp_path / "src")
    rows = generate(src, tmp_path / "a", ["t"], seed=1)
    generate(src, tmp_path / "b", ["t"], seed=2)
    assert rows == {"t": 12}
    a = pq.ParquetFile(tmp_path / "a" / "t.parquet")
    b = pq.read_table(tmp_path / "b" / "t.parquet")
    assert [a.metadata.row_group(i).num_rows for i in range(a.metadata.num_row_groups)] == [7, 5]
    assert a.metadata.row_group(0).column(0).compression == "SNAPPY"
    assert a.schema_arrow == b.schema
    ka = a.read().column("k").to_pylist()
    assert ka != b.column("k").to_pylist() != list(range(12))
    assert sorted(ka) == list(range(12))
    assert content_digest(tmp_path / "a", ["t"]) == content_digest(tmp_path / "b", ["t"])
    assert content_digest(tmp_path / "a", ["t"]) == content_digest(src, ["t"])
