"""The CSV header read (`sources._header_line`): the driver-side read
returns what `spark.read.text(path).first()` returns, without a Spark job."""

from __future__ import annotations

import gzip
import re

import pytest

from mimic2ts_spark import sources


def _write(path, data: bytes) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


def _plain(root):
    _write(root / "t.csv", b"stay_id,intime,outtime\n1,a,b\n")
    return root / "t.csv"


def _bom_crlf(root):
    _write(root / "t.csv", "\ufeffstay_id,intime,outtime\r\n1,a,b\r\n".encode())
    return root / "t.csv"


def _quoted(root):
    _write(root / "t.csv", b'"stay_id","intime","outtime"\n1,"a","b"\n')
    return root / "t.csv"


def _part_files(root):
    """A Spark-written CSV directory: part files (the larger one first in
    Spark's split order), `_SUCCESS` and hidden checksum files."""
    out = root / "x.csv"
    _write(out / "part-00000.csv", b"stay_id,intime\n1,a\n")
    _write(out / "part-00001.csv", b"stay_id,intime\n2,b\n3,c\n4,d\n")
    _write(out / "_SUCCESS", b"")
    _write(out / ".part-00000.csv.crc", b"\x00\x01crc\n")
    return out


def _gzip_part_files(root):
    out = root / "x.csv"
    _write(out / "part-00000.csv.gz", gzip.compress(b"stay_id,intime\n1,a\n"))
    _write(out / "_SUCCESS", b"")
    return out


@pytest.mark.parametrize("make", [_plain, _bom_crlf, _quoted, _part_files, _gzip_part_files])
def test_header_line_equals_spark_text_first(spark, tmp_path, make):
    path = str(make(tmp_path))
    expected = spark.read.text(path).first()[0]
    assert expected.startswith(("stay_id,", '"stay_id",')) and not expected.endswith("\r")
    assert sources._header_line(spark, path) == expected


def test_empty_csv_raises_no_header_error(spark, tmp_path):
    _write(tmp_path / "icu" / "icustays.csv", b"")
    path = str(tmp_path / "icu" / "icustays.csv")
    assert spark.read.text(path).first() is None
    with pytest.raises(ValueError, match="empty — no header row"):
        sources.read_mimic_csv(spark, str(tmp_path), "icustays")


def test_missing_csv_error_names_the_path(spark, tmp_path):
    path = f"{tmp_path}/icu/icustays.csv"
    with pytest.raises(FileNotFoundError, match=re.escape(path)):
        sources.read_mimic_csv(spark, str(tmp_path), "icustays")
