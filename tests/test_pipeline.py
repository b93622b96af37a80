from __future__ import annotations

from big_data_processing_spark.pipeline import run_pipeline
from tests.conftest import SF0001


def test_pipeline_end_to_end(spark, tmp_path):
    out = tmp_path / "out"
    result = run_pipeline(spark, SF0001, str(out))

    assert result.schema_valid
    assert result.raw_rows > 0
    assert 0 < result.clean_rows <= result.raw_rows
    assert result.quality["quality_score"] > 0

    # sinks exist and read back consistently
    processed = spark.read.parquet(result.outputs["processed"])
    assert processed.count() == result.clean_rows
    assert "qty_category" in processed.columns

    vendor = spark.read.parquet(result.outputs["vendor_stats"])
    assert vendor.count() > 0
    summary = (
        spark.read.option("header", True).csv(result.outputs["summary"])
    )
    assert summary.count() == 1


def test_pipeline_schema_gate_fails_on_wrong_table(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="schema gate"):
        run_pipeline(spark, SF0001, str(tmp_path / "x"), table="region")


def test_default_driver_mem_sized_from_host(tmp_path):
    """The default driver heap is min(48g, half of MemTotal), and 48g
    when the meminfo file cannot be read."""
    from big_data_processing_spark.session import _default_driver_mem

    def meminfo(kb):
        p = tmp_path / f"meminfo-{kb}"
        p.write_text(f"MemTotal:       {kb} kB\nMemFree:  1 kB\n")
        return str(p)

    assert _default_driver_mem(meminfo(16 * 1024 * 1024)) == "8192m"
    assert _default_driver_mem(meminfo(96 * 1024 * 1024)) == "48g"
    assert _default_driver_mem(meminfo(512 * 1024 * 1024)) == "48g"
    assert _default_driver_mem(str(tmp_path / "missing")) == "48g"
