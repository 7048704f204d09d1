"""Stage 1 — text extraction: html binary -> text, byte-identical per url.

The per-row invariant (BASELINE.json input_hint) is that extraction is a
pure function of the html bytes: same url+html always yields the same
text bytes, independent of partitioning, partition order, locale, or
parallelism. The reference's analog is the fixed valtype/tval decoding
of observation_fact (Oracle/PCORNetLoader_ora.sql:1901-1929) — a pure
columnwise mapping.

Implementation: a Series->Series pandas UDF (Arrow-batched; no per-row
Python in the plan). The extractor is deliberately dependency-free and
version-pinned by being *in this repo*: regex tag stripping with
boilerplate (nav/footer/script/style) removal and entity decoding. Bad
bytes decode with errors='replace' so malformed input is deterministic
too.
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kgforge.canon import make_minhash_udf

# Boilerplate containers dropped wholesale (non-greedy, DOTALL).
_DROP = re.compile(
    r"<(script|style|nav|footer|header|aside)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG = re.compile(r"<[^>]*>")
_WS = re.compile(r"\s+")


def extract_text_py(raw: bytes | None) -> str | None:
    """Pure extraction function — the single source of truth.

    Exposed at Python level so the pandas reference emitter in
    tests/oracle can call the *same* function contractually (the test
    then separately asserts byte-identity against the generator's
    ground-truth text).
    """
    if raw is None:
        return None
    s = raw.decode("utf-8", errors="replace")
    s = _COMMENT.sub(" ", s)
    s = _DROP.sub(" ", s)
    # drop <head>...</head> entirely (title is not body text)
    s = re.sub(r"<head\b[^>]*>.*?</head\s*>", " ", s, flags=re.IGNORECASE | re.DOTALL)
    s = _TAG.sub(" ", s)
    s = _htmllib.unescape(s)
    s = _WS.sub(" ", s).strip()
    return s


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def extract_pages(pages: DataFrame, langs: tuple[str, ...] | None = ("en",)) -> DataFrame:
    """pages(url, warc_ts, html, text?, lang) -> extracted pages
    (url, warc_ts, lang, text, sig).

    The language filter is the analog of the reference's hard visit
    date-window view (Oracle/PCORNetLoader_ora.sql:114): a predicate
    every downstream consumer inherits, pushed to the scan.

    `sig` is the page's MinHash signature over `text`, stored with it:
    canonicalization and every crawl batch block on it without
    recomputing (a consumer that does not select it prunes the UDF).
    """
    out = pages
    if langs:
        out = out.filter(F.col("lang").isin(*langs))
    return out.select(
        "url",
        "warc_ts",
        "lang",
        extract_text_udf(F.col("html")).alias("text"),
    ).withColumn("sig", make_minhash_udf()(F.col("text")))


def extraction_checksums(pages: DataFrame) -> DataFrame:
    """Per-url md5 of extracted text — the byte-identity evidence used by
    the determinism tests (run at two parallelism levels, compare)."""
    return extract_pages(pages, langs=None).select(
        "url", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5")
    )
