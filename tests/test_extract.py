"""Golden-fixture byte-identity for the HTML→text extractor (no Spark)."""

from data_warehouse_etl_spark.cdc.extract import detect_lang_str, extract_text_bytes

GOLDEN = [
    # plain tags
    (b"<html><body><p>Hello world</p></body></html>", "Hello world"),
    # entities incl. &amp; / &apos; (as in the reference's Bing feed payloads)
    (
        b"<p>Fish &amp; Chips &apos;n more &lt;fresh&gt; caf\xc3\xa9</p>",
        "Fish & Chips 'n more <fresh> café",
    ),
    # <br/> inside text becomes a line break
    (b"line one<br/>line two<br>line three", "line one\nline two\nline three"),
    # script/style/comment stripped entirely
    (
        b"<script>var x = '<p>not text</p>';</script><style>p{}</style>"
        b"<!-- secret --><div>visible</div>",
        "visible",
    ),
    # non-ASCII passthrough (reference Booking feed: Ciudad de Mexico, en-dash)
    (
        "<h1>Ciudad de México</h1><p>1:00pm – 12:00am</p>".encode("utf-8"),
        "Ciudad de México\n1:00pm – 12:00am",
    ),
    # whitespace normalization: runs collapse, 3+ newlines squeeze to 2
    (b"<p>a   b\t c</p>\n\n\n\n<p>d</p>", "a b c\n\nd"),
    # malformed html and invalid utf-8 are total (no raise)
    (b"<div><p>unclosed", "unclosed"),
    (b"\xff\xfe<p>bad bytes</p>", "��bad bytes"),
    # empty and None
    (b"", ""),
    (None, None),
]


def test_extract_text_golden():
    for html, expected in GOLDEN:
        assert extract_text_bytes(html) == expected, html


def test_extract_deterministic_pure():
    blob = b"<html><body><p>The same bytes \xc3\xa9 every time &amp; place</p></body></html>"
    outs = {extract_text_bytes(blob) for _ in range(50)}
    assert len(outs) == 1


def test_detect_lang():
    assert detect_lang_str("the cat sat on the mat and it was happy with this") == "en"
    assert detect_lang_str("der Hund ist nicht mit der Katze und dem Vogel") == "de"
    assert detect_lang_str("le chat est dans la maison et il est pour les oiseaux") == "fr"
    assert detect_lang_str("el perro es un animal que vive en la casa con los gatos") == "es"
    assert detect_lang_str("12345 !!!") == "und"
    assert detect_lang_str(None) is None


def test_generator_templates_roundtrip():
    """Generator HTML extracts to non-empty text and detects its template lang."""
    from data_warehouse_etl_spark.cdc.gen import _html_for, _lang_for

    for u in range(10):
        txt = extract_text_bytes(_html_for(u, 3))
        assert txt and "script" not in txt and "<html" not in txt and "<p>" not in txt
        assert detect_lang_str(txt) == _lang_for(u)


# ---- fast-path equivalence: the optimized extract_text_bytes must match the
# defining regex pipeline byte-for-byte on arbitrary inputs (round 3 swapped
# the hot whitespace steps for C-speed string ops)

from hypothesis import given, settings, strategies as st

from data_warehouse_etl_spark.cdc.extract import (
    _extract_text_bytes_reference,
    extract_text_bytes,
)

_html_soup = st.lists(
    st.one_of(
        st.sampled_from(
            ["<script>", "</script >", "<style>", "</style>", "<!--", "-->",
             "<br/>", "</p>", "<div>", "</div>", "<SCRIPT>", "</SCRIPT>",
             "&amp;", "&eacute;", "&#65;", "&bogus;", "  ", "\t", "\r", "\v",
             "\f", "\n", "\n\n\n", " \n ", "café", "\xa0", "<", ">", "&"]
        ),
        st.text(max_size=8),
    ),
    max_size=24,
).map(lambda parts: "".join(parts).encode("utf-8"))


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.none(), st.binary(max_size=64), _html_soup))
def test_fast_extract_equals_defining_pipeline(data):
    assert extract_text_bytes(data) == _extract_text_bytes_reference(data)


# ---- Python worker setup: importing this module in a Spark Python worker
# keeps Spark's own zip directories across tasks (extract.py docstring)

import sys
import zipimport

import pytest


@pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] <= (3, 12),
    reason="zipimporter.invalidate_caches re-reads its archive only on 3.10-3.12",
)
def test_workers_keep_spark_zip_directories(spark, tmp_path):
    """Two pandas-UDF jobs in one session. Each task reports its worker's
    pid and the id of the cached directory of the pyspark.zip it imports
    from: a reused worker keeps the same directory object from task to
    task instead of re-reading the archive before each one. A zip that is
    not Spark's is still re-read. The driver's zipimporter is untouched."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    tmp = str(tmp_path)

    @F.pandas_udf(T.StringType())
    def probe(x: pd.Series) -> pd.Series:
        import os
        import zipfile
        import zipimport

        import pyspark
        from pyspark import TaskContext

        import data_warehouse_etl_spark.cdc.extract  # noqa: F401  (as the engine's UDFs do)

        archive = pyspark.__spec__.loader.archive
        cached = id(zipimport._zip_directory_cache[archive])
        tid = TaskContext.get().taskAttemptId()
        other = os.path.join(tmp, f"probe-{os.getpid()}-{tid}.zip")
        with zipfile.ZipFile(other, "w") as z:
            z.writestr("probe_mod.py", "")
        importer = zipimport.zipimporter(other)
        before = zipimport._zip_directory_cache[importer.archive]
        importer.invalidate_caches()
        assert zipimport._zip_directory_cache.get(importer.archive) is not before, other
        return x.map(lambda _: f"{os.getpid()} {cached} {tid}")

    seen: dict[str, set[str]] = {}
    tasks: dict[str, set[str]] = {}
    for _ in range(2):
        df = spark.range(0, 8, 1, 8).select(probe(F.col("id").cast("string")).alias("p"))
        for r in df.collect():
            pid, cached, tid = r["p"].split()
            seen.setdefault(pid, set()).add(cached)
            tasks.setdefault(pid, set()).add(tid)
    assert any(len(t) > 1 for t in tasks.values()), tasks  # some worker was reused
    assert all(len(ids) == 1 for ids in seen.values()), seen
    stock = zipimport.zipimporter.invalidate_caches
    assert (stock.__module__, stock.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")
