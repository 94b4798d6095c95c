"""Sources/sinks: header sidecar schema, string-typed ingest, missing
semantics, malformed-row drop (SURVEY §1.1/§2.1 reference behaviors)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shifu_spark.sources.reader import (
    read_dataset,
    read_header,
    safe_double,
    write_dataset,
    write_header_sidecar,
)


@pytest.fixture(scope="module")
def text_data(tmp_path_factory):
    d = tmp_path_factory.mktemp("src")
    header = d / "data.pig_header"
    header.write_text("ns::id|ns::amount|tag\n")
    data = d / "data.txt"
    data.write_text(
        "1|10.5|R\n"
        "2|?|A\n"          # missing token
        "3|abc|R\n"        # unparseable numeric
        "4|NaN|A\n"        # NaN -> missing
        "5|Infinity|R\n"   # Inf -> missing
        "6|2.5\n"          # malformed: 2 fields -> dropped
        "7|3.0|N|extra\n"  # malformed: 4 fields -> dropped
    )
    return str(data), str(header)


class TestIngest:
    def test_header_namespace_collapse(self, spark, text_data):
        _, header = text_data
        assert read_header(spark, header) == ["id", "amount", "tag"]

    def test_malformed_rows_dropped(self, spark, text_data):
        data, header = text_data
        df = read_dataset(spark, data, header_path=header)
        assert df.columns == ["id", "amount", "tag"]
        ids = sorted(r["id"] for r in df.collect())
        assert ids == ["1", "2", "3", "4", "5"]  # 6 and 7 dropped

    def test_unparseable_is_missing_not_error(self, spark, text_data):
        data, header = text_data
        df = read_dataset(spark, data, header_path=header)
        vals = {r["id"]: r["v"] for r in df.select("id", safe_double("amount").alias("v")).collect()}
        assert vals["1"] == 10.5
        assert vals["2"] is None  # '?' token
        assert vals["3"] is None  # unparseable
        assert vals["4"] is None  # NaN
        assert vals["5"] is None  # Infinity


class TestSinksAndSplits:
    def test_csv_roundtrip_with_sidecar(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        out = str(tmp_path / "out_csv")
        write_dataset(df, out, fmt="csv", delimiter="|")
        write_header_sidecar(df, out, delimiter="|")
        header = spark.read.text(out + ".pig_header").collect()[0][0]
        assert header == "id|v"
        back = spark.read.option("sep", "|").option("header", "true").csv(out)
        assert sorted(r["v"] for r in back.collect()) == ["a", "b"]


class TestWarc:
    def test_roundtrip_gzip_members_and_plain(self):
        from shifu_spark.sources.warc import encode_warc, parse_warc

        recs = [
            ("response", "http://a.example/1", b"hello \x00 binary", {"X-N": "7"}),
            ("metadata", None, b"lang: de\r\n", None),
        ]
        for gz in (True, False):
            out = parse_warc(encode_warc(recs, per_record_gzip=gz))
            assert [r["headers"]["WARC-Type"] for r in out] == ["response", "metadata"]
            assert out[0]["body"] == b"hello \x00 binary"
            assert out[0]["headers"]["X-N"] == "7"
            assert "WARC-Target-URI" not in out[1]["headers"]

    def test_determinism_and_member_boundaries(self):
        from shifu_spark.sources.warc import encode_warc, parse_warc

        recs = [("response", "http://x/1", bytes(range(256)) * 10, None)] * 3
        a, b = encode_warc(recs), encode_warc(recs)
        assert a == b  # mtime pinned -> byte-deterministic payloads
        assert len(parse_warc(a)) == 3

    def test_corruption_raises(self):
        import pytest
        from shifu_spark.sources.warc import encode_warc, parse_warc, write_warc_record

        blob = encode_warc([("response", "http://x/1", b"abc", None)])
        with pytest.raises(ValueError):
            parse_warc(blob[: len(blob) - 4])  # truncated gzip member
        corrupt = bytearray(blob)
        corrupt[len(corrupt) // 2] ^= 0xFF  # bit-flipped member body
        with pytest.raises(ValueError):  # zlib.error wrapped per contract
            parse_warc(bytes(corrupt))
        raw = write_warc_record("response", "http://x/1", b"abc")
        with pytest.raises(ValueError):
            parse_warc(raw[:-2])  # missing record separator
        with pytest.raises(ValueError):
            parse_warc(b"WARC/0.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n")


class TestWebdatasetShards:
    def test_roundtrip_grouping_and_multidot_exts(self):
        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        shard = encode_wds_shard([
            ("s0", [("txt", b"hello"), ("json", b'{"a":1}')]),
            ("s1", [("seg.png", b"\x89PNG..."), ("txt", b"x")]),
        ])
        out = parse_wds_shard(shard)
        assert [k for k, _ in out] == ["s0", "s1"]
        assert out[0][1]["txt"] == b"hello"
        assert "seg.png" in out[1][1]  # split on FIRST dot only

    def test_deterministic_bytes(self):
        from shifu_spark.sources.webdataset import encode_wds_shard

        s = [("a", [("txt", b"z" * 600)])]
        assert encode_wds_shard(s) == encode_wds_shard(s)

    def test_contiguity_and_key_contracts(self):
        import io
        import tarfile

        import pytest
        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        with pytest.raises(ValueError):
            encode_wds_shard([("bad.key", [("txt", b"")])])
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for name, data in [("a.txt", b"1"), ("b.txt", b"2"), ("a.cls", b"3")]:
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        with pytest.raises(ValueError):  # interleaved sample breaks streaming
            parse_wds_shard(buf.getvalue())


class TestOrcJsonlRoundtrip:
    def test_orc_typed_roundtrip(self, spark, tmp_path):
        """ORC sink + read_dataset autodetect: schema and values survive
        the round trip exactly (the second native columnar format)."""
        from shifu_spark.sources.reader import read_dataset, write_dataset

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(200)
        path = str(tmp_path / "li_orc")
        write_dataset(li, path, fmt="orc")
        back = read_dataset(spark, path)
        assert back.schema == li.schema
        a = sorted(map(tuple, li.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b

    def test_jsonl_roundtrip_inferred_and_pinned(self, spark, tmp_path):
        """JSONL sink + ingest: inferred-schema read preserves values;
        pinned-columns read applies the all-string contract."""
        from pyspark.sql import functions as F

        from shifu_spark.sources.reader import read_dataset, write_dataset

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
        path = str(tmp_path / "docs_json")
        write_dataset(docs, path, fmt="json")
        back = read_dataset(spark, path)
        want = {r["doc_id"]: r["text"] for r in docs.collect()}
        got = {r["doc_id"]: r["text"] for r in back.select("doc_id", "text").collect()}
        assert got == want
        pinned = read_dataset(spark, path, columns=["doc_id", "text"])
        assert [f.dataType.typeName() for f in pinned.schema.fields] == ["string", "string"]
        assert pinned.count() == 50

    def test_unsupported_format_raises(self, spark, tmp_path):
        import pytest

        from shifu_spark.sources.reader import write_dataset

        df = spark.range(3)
        with pytest.raises(ValueError, match="unsupported sink format"):
            write_dataset(df, str(tmp_path / "x"), fmt="avro")
