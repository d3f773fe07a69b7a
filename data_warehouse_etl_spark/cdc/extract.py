"""HTML → text extraction and language id, as vectorized pandas/Arrow UDFs.

This is the engine's transform stage (SURVEY.md §2.10). The byte-identity
contract of the north rule — *per-url extracted text identical across cluster
sizes and replays* — is defined HERE, once, by ``extract_text_bytes``:

- pure function of the input bytes only (no locale, no env, no dict-order,
  no float formatting);
- fixed utf-8 decode with ``errors="replace"``;
- a fixed, ordered regex pipeline (Python ``re`` is deterministic);
- every consumer — engine apply, pandas oracle in tests, golden fixtures —
  calls this same function, which is what makes byte-identity *checkable*
  (``python -m pytest -x -q``).

The Spark-facing wrappers are **scalar pandas UDFs** (Series → Series, Arrow
batch transfer, no per-row Python at the Spark row level). Inside a batch the
heavy lifting is pandas ``.str.replace`` (vectorized C regex); only HTML
entity unescaping maps Python per element, bounded by the Arrow batch size.

The reference's extraction analog is its XML feed boundary: entity-encoded
payloads (`&amp;`, `&apos;`, `<br/>` inside description text —
``/root/reference/SampleBingFeeds.xml:33``) flattened to relational columns.

Python worker setup: a Spark Python worker imports this module when it
unpickles one of the UDFs below, and the import installs
:func:`_keep_spark_zip_directories` in that worker process only. Before
every task, the worker calls ``importlib.invalidate_caches()``, and on
CPython 3.10-3.12 each cached ``zipimporter`` then re-reads its whole
archive directory. For Spark's own archives (``pyspark.zip``, the py4j zip
and the ``spark-core`` jar: 16 importers) that re-read is the larger part
of a small task's Python time, and those archives never change while a
worker lives. Any other archive is re-read as before, and the driver's
import system is left as it is.
"""

from __future__ import annotations

import html as _html
import os
import re
import sys

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _keep_spark_zip_directories() -> None:
    """In a Spark Python worker, make ``zipimporter.invalidate_caches`` skip
    Spark's own archives, matched by file: the ``pyspark.zip`` and py4j zip
    the worker imports ``pyspark`` and ``py4j`` from, and the ``spark-core``
    jar Spark puts on the worker's ``sys.path``. Every other archive keeps
    the stock re-read, ``--py-files`` zips among them, also where they sit
    in one directory with ``pyspark.zip`` (a YARN container's working
    directory).

    Measured with ``pyspark.zip`` 4.1.2 on CPython 3.11.7, 4 vCPUs:
    ``importlib.invalidate_caches()`` took 230-240 ms per call in a reused
    worker (about 1 ms with the skip). Over the extract tasks of 1k-event
    tail ticks at ``local[4]``, the PythonRunner ``Times`` total per task
    fell from a median of 369 ms (p25-p75 335-403) to 107 ms (57-150).

    Version gate: ``zipimporter.invalidate_caches`` first exists in 3.10,
    and it re-reads the archive at once in 3.10-3.12 (checked on 3.10.13,
    3.11.7 and 3.12.1; later 3.12 releases were not checked, and the skip
    is harmless where the re-read is lazy). From 3.13 (gh-103200; checked
    on 3.13.0) it only drops the cached directory, which the next import
    from that archive reads again; nothing is installed there."""
    if not (3, 10) <= sys.version_info[:2] <= (3, 12):
        return
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # a Spark Connect client has no Python workers
        return
    if not SparkFiles._is_running_on_worker:
        return
    import zipimport

    import py4j
    import pyspark

    stock = zipimport.zipimporter.invalidate_caches
    archive = getattr(pyspark.__spec__.loader, "archive", None)
    if archive is None or hasattr(stock, "spark_archives"):
        return  # pyspark is not imported from a zip, or already installed
    spark_archives = {os.path.realpath(archive)}
    if getattr(py4j.__spec__.loader, "archive", None):
        spark_archives.add(os.path.realpath(py4j.__spec__.loader.archive))
    spark_archives.update(
        os.path.realpath(p)
        for p in sys.path
        if os.path.basename(p).startswith("spark-core_") and p.endswith(".jar")
    )

    def invalidate_caches(self) -> None:
        if os.path.realpath(self.archive) not in spark_archives:
            stock(self)

    invalidate_caches.spark_archives = spark_archives
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_spark_zip_directories()

# Ordered, anchored pipeline. Block-level closers become newlines so text
# keeps its visual structure; everything else strips to nothing.
_RE_SCRIPT = re.compile(rb"(?is)<script\b.*?</script\s*>")
_RE_STYLE = re.compile(rb"(?is)<style\b.*?</style\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")

_BLOCK_BREAK = re.compile(
    r"(?i)<\s*(?:br\s*/?|/p|/div|/li|/tr|/h[1-6]|/title|/ul|/ol|/table|/blockquote|/pre)\s*>"
)
_ANY_TAG = re.compile(r"(?s)<[^>]*>")
_HSPACE = re.compile(r"[ \t\r\f\v]+")
_SPACE_AROUND_NL = re.compile(r" ?\n ?")
_MANY_NL = re.compile(r"\n{3,}")

# C-speed equivalents for the hot whitespace-normalization steps (the regex
# forms above remain the *defining* semantics and the property tests assert
# the fast path matches them on arbitrary inputs):
# - _HSPACE.sub(" ", s)  ==  translate \t\r\f\v -> " ", then collapse runs of
#   spaces (each replace pass at least halves every run; loop to fixpoint);
# - _SPACE_AROUND_NL.sub("\n", s)  ==  replace(" \n")+replace("\n ") once no
#   double spaces exist (regex " ?\n ?" consumes at most one space per side).
_HSPACE_TABLE = str.maketrans({"\t": " ", "\r": " ", "\f": " ", "\v": " "})


def extract_text_bytes(data: bytes | None) -> str | None:
    """Canonical HTML→text. Pure, deterministic, total (None/garbage safe)."""
    if data is None:
        return None
    raw = bytes(data)
    low = raw.lower()
    # membership in lower() is a necessary condition for each (?i) pattern, so
    # skipping the sub when absent is exact — sub is identity without a match
    if b"<script" in low:
        raw = _RE_SCRIPT.sub(b"", raw)
    if b"<style" in low:
        raw = _RE_STYLE.sub(b"", raw)
    if b"<!--" in raw:
        raw = _RE_COMMENT.sub(b"", raw)
    s = raw.decode("utf-8", errors="replace")
    s = _BLOCK_BREAK.sub("\n", s)
    s = _ANY_TAG.sub("", s)
    if "&" in s:
        s = _html.unescape(s)
    if "\t" in s or "\r" in s or "\f" in s or "\v" in s:
        s = s.translate(_HSPACE_TABLE)
    while "  " in s:
        s = s.replace("  ", " ")
    s = s.replace(" \n", "\n").replace("\n ", "\n")
    if "\n\n\n" in s:
        s = _MANY_NL.sub("\n\n", s)
    return s.strip()


def _extract_text_bytes_reference(data: bytes | None) -> str | None:
    """The defining regex pipeline, kept verbatim for equivalence tests."""
    if data is None:
        return None
    raw = bytes(data)
    raw = _RE_SCRIPT.sub(b"", raw)
    raw = _RE_STYLE.sub(b"", raw)
    raw = _RE_COMMENT.sub(b"", raw)
    s = raw.decode("utf-8", errors="replace")
    s = _BLOCK_BREAK.sub("\n", s)
    s = _ANY_TAG.sub("", s)
    s = _html.unescape(s)
    s = _HSPACE.sub(" ", s)
    s = _SPACE_AROUND_NL.sub("\n", s)
    s = _MANY_NL.sub("\n\n", s)
    return s.strip()


# Stopword marker sets for deterministic n-gram-free language id. Scored by
# marker-word hits over the first 4000 chars; ties break by fixed language
# order (list order below), so the result is total and reproducible.
_LANG_MARKERS: list[tuple[str, frozenset[str]]] = [
    ("en", frozenset("the and of to in is that it for with as was on are this".split())),
    ("de", frozenset("der die das und ist nicht von mit ein eine den dem für auf".split())),
    ("fr", frozenset("le la les et de des un une est pour que dans qui pas sur".split())),
    ("es", frozenset("el la los las y de que en un una es por para con del no".split())),
    ("it", frozenset("il la che di e un una per non sono con del alla nel".split())),
]
_WORD_RE = re.compile(r"[a-zà-ÿ]+")


def detect_lang_str(text: str | None) -> str | None:
    """Deterministic stopword-marker language id over {en,de,fr,es,it}."""
    if text is None:
        return None
    words = _WORD_RE.findall(text[:4000].lower())
    if not words:
        return "und"
    best_lang, best_score = "und", 0
    for lang, markers in _LANG_MARKERS:
        score = sum(1 for w in words if w in markers)
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Scalar pandas UDF: binary html column → extracted text column."""
    return html.map(extract_text_bytes)


@F.pandas_udf(T.StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    """Scalar pandas UDF: text column → 2-letter language id ('und' unknown)."""
    return text.map(detect_lang_str)


_ENRICH_SCHEMA = T.StructType(
    [T.StructField("text", T.StringType()), T.StructField("lang", T.StringType())]
)


@F.pandas_udf(_ENRICH_SCHEMA)
def extract_enrich_udf(html: pd.Series, lang: pd.Series) -> pd.DataFrame:
    """Fused transform: html → (text, lang) in ONE Arrow round trip.

    Chaining ``extract_text_udf`` then ``fill_lang_udf`` costs two python
    worker hops per task and serializes the freshly-extracted text column
    back to the JVM only to ship it to the second worker again. Fusing them
    keeps the text in the worker: transfer in = html (+ tiny lang), transfer
    out = text + lang. Same functions inside, so the byte-identity contract
    is unchanged (``extract_text_bytes`` / ``detect_lang_str``).

    Callers mask delete rows JVM-side (pass null html / null lang for
    op='D'): null html → null text, and detection is masked to rows where
    lang is null AND text is present, so deletes stay null throughout.
    """
    text = html.map(extract_text_bytes)
    out_lang = lang.copy()
    mask = lang.isna() & text.notna()
    if mask.any():
        out_lang.loc[mask] = text[mask].map(detect_lang_str)
    return pd.DataFrame({"text": text, "lang": out_lang})


@F.pandas_udf(T.StringType())
def fill_lang_udf(lang: pd.Series, text: pd.Series) -> pd.Series:
    """``coalesce(lang, detect_lang(text))`` with the detection actually
    computed ONLY where lang is null. A plain ``F.coalesce(col, udf(text))``
    evaluates the UDF on EVERY row — Spark projects UDF columns eagerly, no
    vectorized short-circuit — which made language detection the single
    largest hidden cost per batch on feeds that already carry a language
    (measured: ~500k needless detections per 5M-event batch). Same values,
    same byte-identical state; work only where needed."""
    out = lang.copy()
    mask = lang.isna() & text.notna()
    if mask.any():
        out.loc[mask] = text[mask].map(detect_lang_str)
    return out
