"""JSONL document source/sink: schema-pinned read, dead-letter
routing, write-read roundtrip (sources/jsonl.py)."""

import json

from aws_logs_to_parquet_converter_spark.sources import jsonl


def _write_corpus(tmp_path, n_good=20, n_bad=3):
    lines = []
    for i in range(n_good):
        lines.append(
            json.dumps(
                {"doc_id": i, "text": f"document number {i}", "lang": "en",
                 "source": "web", "n_chars": 18}
            )
        )
    bad = ['{"doc_id": broken', "not json at all", '{"unterminated": "']
    lines += bad[:n_bad]
    p = tmp_path / "corpus.jsonl"
    p.write_text("\n".join(lines))
    return str(p)


def test_read_routes_corrupt_lines_to_dead_letter(spark, tmp_path):
    path = _write_corpus(tmp_path)
    df = jsonl.read_jsonl(spark, path)
    clean, dead = jsonl.split_corrupt(df)
    assert clean.count() == 20
    assert dead.count() == 3
    assert clean.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    # dead letters keep the raw line verbatim for quarantine/repair
    raws = {r.raw_line for r in dead.collect()}
    assert "not json at all" in raws
    assert "raw_line" in dead.columns and "doc_id" in dead.columns


def test_non_object_json_is_dead_lettered(spark, tmp_path):
    """Valid JSON that is not an object (scalar, array, null literal)
    must route to quarantine, not surface as an all-NULL clean row
    (round-2 advisor finding)."""
    lines = [
        json.dumps({"doc_id": 1, "text": "ok", "lang": "en", "source": "web",
                    "n_chars": 2}),
        "42", '"just a string"', "true", "[1, 2, 3]", "null",
    ]
    p = tmp_path / "mixed.jsonl"
    p.write_text("\n".join(lines))
    clean, dead = jsonl.split_corrupt(jsonl.read_jsonl(spark, str(p)))
    assert clean.count() == 1
    assert {r.raw_line for r in dead.collect()} == {
        "42", '"just a string"', "true", "[1, 2, 3]", "null"}


def test_no_schema_inference_job(spark, tmp_path):
    """The read must use the declared schema (a 100 TB corpus cannot
    afford an inference pass): a field absent from the schema is simply
    not read, and the scan plans directly."""
    path = _write_corpus(tmp_path, n_good=5, n_bad=0)
    df = jsonl.read_jsonl(spark, path)
    assert [f.name for f in df.schema.fields[:-1]] == [
        "doc_id", "text", "lang", "source", "n_chars"]


def test_write_read_roundtrip(spark, tmp_path):
    path = _write_corpus(tmp_path, n_good=12, n_bad=0)
    clean, _ = jsonl.split_corrupt(jsonl.read_jsonl(spark, path))
    out = str(tmp_path / "out")
    clean.repartition(2).write.json(out)
    back, dead = jsonl.split_corrupt(jsonl.read_jsonl(spark, out + "/*.json"))
    assert dead.count() == 0
    assert sorted(r.doc_id for r in back.collect()) == list(range(12))
