"""pandas reference of the ingest row kernels: the parity oracle for
textx.with_ingest_jvm (and, through it, with_extracted_text,
with_geocode and cells.cell_column).

Plain pandas/numpy on a collected frame — deliberately a second,
independent implementation: pandas .str slicing and byte comparison,
Series.str.extract + to_numeric for the geotag, cells.encode for the
cell id.
"""

import numpy as np
import pandas as pd

from posmspark import cells
from posmspark.synth import HTML_POST, HTML_PRE
from posmspark.textx import GEO_RE


def ingest_reference(pdf: pd.DataFrame, html_col: str = "html",
                     text_col: str = "text") -> pd.DataFrame:
    """(text_ok, lat, lon, cell) per row of `pdf`, on pdf's index.

    text_ok compares RAW BYTES (html slice vs utf-8 encoded text), so
    html that is not valid UTF-8 at the cut is text_ok=False, not an
    error. cell is a nullable Int64 built without a float64 detour:
    cell ids use the high mantissa bits, float64 would collapse
    distinct cells."""
    sliced = pdf[html_col].str[len(HTML_PRE):-len(HTML_POST)]
    claim = pdf[text_col].str.encode("utf-8")
    ok = sliced.eq(claim) & sliced.notna() & claim.notna()
    ext = pdf[text_col].str.extract(GEO_RE)
    lat = pd.to_numeric(ext[0], errors="coerce")
    lon = pd.to_numeric(ext[1], errors="coerce")
    cell = cells.encode(lon.to_numpy(dtype=np.float64, na_value=np.nan),
                        lat.to_numpy(dtype=np.float64, na_value=np.nan))
    return pd.DataFrame({
        "text_ok": ok,
        "lat": lat,
        "lon": lon,
        "cell": pd.arrays.IntegerArray(cell, mask=(cell < 0)),
    }, index=pdf.index)
