"""Text extraction + geocoding — pure-JVM column expressions, byte-exact.

The north-rule invariant: extracted text must be byte-identical per url
to the fixture's `text` column. Extraction is a pure deterministic
function of the html bytes (slice between fixed byte markers, utf-8
decode) — no locale, no float formatting, no normalization.

Geocode parse re-expresses the reference's text->attribute derivation
style (cf. escaped-UTF8 decode at extract_overpass.py:41-52 and the
lat/lon URL formatting at exposm/utils.py:118-126) as one regex inside
whole-stage codegen. No function here starts a Python worker; the
pandas reference these expressions are parity-tested against lives
under tests/.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from posmspark.synth import HTML_POST, HTML_PRE

_PRE_LEN = len(HTML_PRE)
_POST_LEN = len(HTML_POST)

GEO_RE = r"geo: (-?\d+\.\d{5}), (-?\d+\.\d{5})"


def _html_body(html_col: str):
    """The html bytes between the fixed PRE/POST markers."""
    return F.expr(
        f"substring({html_col}, {_PRE_LEN + 1},"
        f" length({html_col}) - {_PRE_LEN + _POST_LEN})")


def _geo_columns(text_col: str):
    """(lat, lon) doubles parsed from 'geo: {lat:.5f}, {lon:.5f}';
    rows without a geotag yield nulls."""
    def num(group):
        s = F.regexp_extract(F.col(text_col), GEO_RE, group)
        # guard the cast: ANSI mode refuses '' (no regex match)
        return F.when(s != "", s.cast("double"))

    return num(1), num(2)


def with_ingest_jvm(df, html_col: str = "html", text_col: str = "text"):
    """Pure-JVM ingest: byte-identity verify + geocode parse + cell
    encode with ZERO Python workers — html/text never cross the Arrow
    boundary (at 100 TB those are the wide columns; keeping them inside
    whole-stage codegen makes ingest scan-bound). Bit-identical on
    every column to the pandas reference kernel in
    tests/ingest_reference.py (parity-tested, malformed html included).

    The byte-identity check compares RAW BYTES (substring(html) vs
    encode(text)) — stronger than string equality — so html that is not
    valid UTF-8 at the cut routes out as text_ok=False instead of
    failing the task.
    """
    from posmspark import cells

    ok = ((_html_body(html_col) == F.encode(F.col(text_col), "UTF-8"))
          & F.col(text_col).isNotNull())
    lat, lon = _geo_columns(text_col)
    return df.select(
        "*", ok.alias("text_ok"), lat.alias("lat"), lon.alias("lon"),
        cells.cell_column(lon, lat).alias("cell"),
    )


def with_extracted_text(df, html_col: str = "html", out_col: str = "text_extracted"):
    """html bytes -> extracted text, byte-identical to the original:
    strip the fixed PRE/POST markers and strictly utf-8 decode (invalid
    UTF-8 raises MALFORMED_CHARACTER_CODING rather than substituting)."""
    return df.withColumn(out_col, F.decode(_html_body(html_col), "UTF-8"))


def with_geocode(df, text_col: str = "text"):
    """Add lat/lon columns parsed from the text column."""
    lat, lon = _geo_columns(text_col)
    return df.select("*", lat.alias("lat"), lon.alias("lon"))
