"""Source operators: binaryFile HTML ingestion, trafilatura gating."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest

from entity_extraction_svc_spark.operators.extract import extract_text
from entity_extraction_svc_spark.sources.binary_html import read_html_files


def test_binary_html_roundtrip(spark, fixture_dir):
    """Raw .html files through the binaryFile source extract to the same
    byte-identical text as the parquet html column."""
    rows = duckdb.sql(
        f"select url, html, text from '{fixture_dir}/pages.parquet' limit 5"
    ).fetchall()
    d = tempfile.mkdtemp(prefix="kg_htmlsrc_")
    by_name = {}
    for i, (url, html, text) in enumerate(rows):
        p = os.path.join(d, f"doc{i}.html")
        with open(p, "wb") as f:
            f.write(html)
        by_name[f"doc{i}.html"] = text
    # decoy that the glob must prune
    with open(os.path.join(d, "notes.txt"), "w") as f:
        f.write("not html")

    pages = read_html_files(spark, d)
    out = extract_text(pages).collect()
    assert len(out) == 5
    for r in out:
        name = r.url.rsplit("/", 1)[-1]
        assert r.text == by_name[name]


def test_trafilatura_engine_gated(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    try:
        import trafilatura  # noqa: F401

        has = True
    except ImportError:
        has = False
    if has:
        assert extract_text(pages, engine="trafilatura").count() == 206
    else:
        with pytest.raises(NotImplementedError):
            extract_text(pages, engine="trafilatura")


def test_warc_roundtrip_feeds_pipeline(spark, fixture_dir, tmp_path):
    """WARC ingestion: write the fixture pages as a CC-style WARC (one gzip
    member per record), read it back through the Spark source, and verify
    byte-identical html per url; the output schema feeds the fused plan."""
    import duckdb

    from entity_extraction_svc_spark.plans.fused import build_fused
    from entity_extraction_svc_spark.sources.warc import read_warc, write_warc

    rows = duckdb.sql(
        f"select url, warc_ts, html from '{fixture_dir}/pages.parquet' "
        f"order by url limit 40"
    ).fetchall()
    pages_rows = [{"url": u, "warc_ts": t, "html": h} for (u, t, h) in rows]
    warc_path = str(tmp_path / "segment-00000.warc.gz")
    write_warc(pages_rows, warc_path, gzip_members=True)

    got = read_warc(spark, warc_path).collect()
    assert len(got) == 40
    by_url = {r.url: r for r in got}
    for u, t, h in rows:
        assert bytes(by_url[u].html) == bytes(h or b"")
        assert by_url[u].warc_ts.replace(tzinfo=None) == \
            t.replace(microsecond=0, tzinfo=None)

    # the WARC-derived table runs the pipeline and links like the parquet one
    linked, _ = build_fused(spark, read_warc(spark, warc_path), fixture_dir)
    assert linked.filter("rank = 0 and qid is not null").count() > 0


def test_warc_plain_and_malformed(spark, tmp_path):
    """Uncompressed WARC parses too; malformed/non-response records are
    skipped, never fatal."""
    from entity_extraction_svc_spark.sources.warc import (
        parse_warc_bytes,
        write_warc,
    )

    write_warc(
        [{"url": "https://a.example/x", "warc_ts": None, "html": b"<html>hi</html>"}],
        str(tmp_path / "plain.warc"),
        gzip_members=False,
    )
    data = open(tmp_path / "plain.warc", "rb").read()
    noise = b"WARC/1.0\r\nWARC-Type: request\r\nContent-Length: 2\r\n\r\nxx\r\n\r\n"
    garbage = b"not a warc header at all\r\n\r\n"
    recs = parse_warc_bytes(noise + data + garbage)
    assert len(recs) == 1 and recs[0]["url"] == "https://a.example/x"
    assert recs[0]["html"] == b"<html>hi</html>"


def test_warc_corrupt_gzip_member_not_fatal(tmp_path):
    """ADVICE r2: a corrupt gzip member (or trailing non-gzip garbage after
    a member) must not raise out of the whole-file task — records decoded
    before the corruption are kept."""
    import gzip

    from entity_extraction_svc_spark.sources.warc import (
        parse_warc_bytes,
        write_warc,
    )

    write_warc(
        [{"url": "https://a.example/ok", "warc_ts": None, "html": b"<html>ok</html>"}],
        str(tmp_path / "one.warc.gz"),
        gzip_members=True,
    )
    good = open(tmp_path / "one.warc.gz", "rb").read()

    # truncated second member: valid gzip magic, corrupt payload
    bad = gzip.compress(b"WARC/1.0\r\n...")[:10]
    recs = parse_warc_bytes(good + bad)
    assert len(recs) == 1 and recs[0]["url"] == "https://a.example/ok"

    # trailing non-gzip garbage after the last member
    recs = parse_warc_bytes(good + b"\x00\x01binary junk")
    assert len(recs) == 1 and recs[0]["url"] == "https://a.example/ok"


# --- N-Triples export (inverse of the S7 ingest) ------------------------------

from entity_extraction_svc_spark.sources.ntriples import (  # noqa: E402
    format_ntriples,
    parse_ntriples,
    write_ntriples,
)


def test_ntriples_roundtrip_identity(spark):
    triples = [
        ("Q1", "P31", "Q5"),
        ("Q1", "label", "Ada Lovelace"),
        ("Q2", "P36", "Q90"),
    ]
    df = spark.createDataFrame(triples, "subj string, pred string, obj string")
    back = parse_ntriples(format_ntriples(df), col="line")
    got = sorted(map(tuple, back.collect()))
    assert got == sorted(triples)


def test_ntriples_literal_escaping(spark):
    df = spark.createDataFrame(
        [("Q1", "label", 'say "hi"\nback\\slash\ttab')],
        "subj string, pred string, obj string",
    )
    line = format_ntriples(df).first()["line"]
    assert line == (
        '<http://www.wikidata.org/entity/Q1> '
        '<http://www.wikidata.org/prop/direct/label> '
        '"say \\"hi\\"\\nback\\\\slash\\ttab" .'
    )


def test_write_ntriples_files_reparse(spark, tmp_path):
    df = spark.createDataFrame(
        [("Q1", "P31", "Q5"), ("Q2", "P31", "Q5")],
        "subj string, pred string, obj string",
    )
    out = str(tmp_path / "export_nt")
    write_ntriples(df.repartition(2), out)
    back = parse_ntriples(spark.read.text(out))
    assert sorted(map(tuple, back.collect())) == [
        ("Q1", "P31", "Q5"), ("Q2", "P31", "Q5")
    ]


def test_ntriples_roundtrip_with_escapes(spark):
    # format -> parse is the identity INCLUDING every escape class
    # (VERDICT r4 ADVICE #2: the old parser dropped lines with \" and
    # reparsed \\ / \t / \n to the escaped bytes)
    triples = [
        ("Q1", "label", 'say "hi"\nback\\slash\ttab'),
        ("Q2", "label", "trailing backslash \\"),
        ("Q3", "label", '\\"escaped-backslash-then-quote'),
        ("Q4", "label", "\r\ncrlf"),
        ("Q5", "label", "\\n is two chars here"),
    ]
    df = spark.createDataFrame(triples, "subj string, pred string, obj string")
    back = parse_ntriples(format_ntriples(df), col="line")
    assert sorted(map(tuple, back.collect())) == sorted(triples)


def test_ntriples_parse_escaped_quote_line(spark):
    # a hand-authored spec line with \" inside the literal must parse,
    # not silently drop
    lines = spark.createDataFrame(
        [('<http://we/Q9> <http://wl/label> "quo\\"te\\tand\\\\bs" .',)],
        "value string",
    )
    got = parse_ntriples(lines).collect()
    assert [tuple(r) for r in got] == [("Q9", "label", 'quo"te\tand\\bs')]


def test_ntriples_lang_datatype_accepted_by_default(spark):
    # language-tagged and datatype-annotated literals (the remaining
    # N-Triples object forms) must parse — annotations dropped, the bare
    # literal kept — instead of the whole line being silently discarded
    lines = spark.createDataFrame(
        [
            ('<http://we/Q1> <http://wl/label> "Joconde"@fr .',),
            ('<http://we/Q1> <http://wl/label> "Mona Lisa"@zh-Hans .',),
            ('<http://we/Q2> <http://wpd/P571> '
             '"1503"^^<http://www.w3.org/2001/XMLSchema#gYear> .',),
        ],
        "value string",
    )
    got = sorted(map(tuple, parse_ntriples(lines).collect()))
    assert got == [
        ("Q1", "label", "Joconde"),
        ("Q1", "label", "Mona Lisa"),
        ("Q2", "P571", "1503"),
    ]


def test_ntriples_annotation_roundtrip_byte_identical(spark):
    # keep_annotations=True -> format_ntriples re-serializes @lang / ^^<dt>
    # byte-identically (escaping still applies to the literal body)
    lines = [
        '<http://www.wikidata.org/entity/Q1> '
        '<http://www.wikidata.org/prop/direct/label> "Joconde"@fr .',
        '<http://www.wikidata.org/entity/Q1> '
        '<http://www.wikidata.org/prop/direct/label> "quo\\"te"@zh-Hans .',
        '<http://www.wikidata.org/entity/Q2> '
        '<http://www.wikidata.org/prop/direct/P571> '
        '"1503"^^<http://www.w3.org/2001/XMLSchema#gYear> .',
        '<http://www.wikidata.org/entity/Q3> '
        '<http://www.wikidata.org/prop/direct/label> "plain" .',
    ]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    parsed = parse_ntriples(df, keep_annotations=True)
    assert parsed.columns == ["subj", "pred", "obj", "lang", "dtype"]
    back = format_ntriples(parsed)
    assert sorted(r["line"] for r in back.collect()) == sorted(lines)


def test_upsert_entities_new_rows_win(spark):
    # S8 MERGE stand-in: a key present in both keeps only the new row,
    # untouched keys survive, new keys are added; column order follows
    # the existing table
    from entity_extraction_svc_spark.sources.ntriples import upsert_entities

    existing = spark.createDataFrame(
        [("Q1", "Mona Lisa"), ("Q2", "Paris")], "qid string, label string"
    )
    new = spark.createDataFrame(
        [("La Joconde", "Q1"), ("Rome", "Q3")], "label string, qid string"
    )
    out = upsert_entities(existing, new)
    assert out.columns == ["qid", "label"]
    assert sorted(map(tuple, out.collect())) == [
        ("Q1", "La Joconde"), ("Q2", "Paris"), ("Q3", "Rome"),
    ]
