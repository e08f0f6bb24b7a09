"""Structural guards: the band-store layout and the dynamic partition
overwrite are each written in one module."""

import pathlib

import facolos_data_pipelines_spark

PACKAGE = pathlib.Path(facolos_data_pipelines_spark.__file__).parent


def _modules_naming(text: str) -> list[str]:
    return [
        str(path.relative_to(PACKAGE))
        for path in sorted(PACKAGE.rglob("*.py"))
        if text in path.read_text()
    ]


def test_band_store_layout_only_in_band_index():
    """The manifest file name and the ``bucket_pmod`` layout belong to
    ``operators.band_index.BandStore``."""
    for text in ("_NEAR_DUP_STORE_META", "bucket_pmod"):
        assert _modules_naming(text) == ["operators/band_index.py"], text


def test_partition_overwrite_only_in_io():
    """Every dynamic partition overwrite goes through
    ``sources.io.overwrite_partitions``."""
    assert _modules_naming("partitionOverwriteMode") == ["sources/io.py"]
