"""Common-Crawl-style pages table: deterministic synthesis + geocode.

Input shape mandated by BASELINE.json input_hint:
  url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Synthesis is seeded and *partition-parallel*: row i's content is a
pure function of i (splittable counter-based generation), so any
executor can materialize any slice without coordination and reruns
are byte-identical — the property the resume/manifest machinery and
the "byte-identical text per url" invariant both rest on.

The geocode stub is the deterministic text→(lon, lat) function the
north rule requires: a hash of the first token pins a "city" center
(Zipf-weighted over a fixed city list — this is what makes cell skew
real: a handful of metro cells receive a large share of pages), and
the url hash jitters within the metro radius.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("page_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
    ]
)

_WORDS = (
    "web page data spark tile join point cell index crawl text token "
    "city river map layer raster vector zoom pyramid shuffle salt skew"
).split()
_LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]

# (name, lon, lat, zipf weight) — weights make the first cities hot:
# the deliberate skew generator (hot metro cells and tiles).
CITIES = [
    ("nyc", -73.98, 40.75),
    ("london", -0.12, 51.50),
    ("tokyo", 139.69, 35.69),
    ("paris", 2.35, 48.86),
    ("berlin", 13.40, 52.52),
    ("madrid", -3.70, 40.42),
    ("sydney", 151.21, -33.87),
    ("saopaulo", -46.63, -23.55),
    ("lagos", 3.39, 6.45),
    ("delhi", 77.21, 28.61),
    ("smalltown1", -100.5, 41.2),
    ("smalltown2", 24.7, -29.1),
    ("smalltown3", 133.8, -23.7),
    ("smalltown4", -63.6, -8.8),
    ("smalltown5", 37.6, 55.8),
]
_CITY_WEIGHTS = np.array([1.0 / (i + 1) ** 1.2 for i in range(len(CITIES))])
_CITY_WEIGHTS /= _CITY_WEIGHTS.sum()
_CITY_CDF = np.cumsum(_CITY_WEIGHTS)


def _rng_for(i: np.ndarray) -> np.ndarray:
    """64-bit splitmix-style counter hash — the per-row seed."""
    z = (i.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(
        0xBF58476D1CE4E5B9
    )
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def synth_pages_pdf(start: int, count: int) -> pd.DataFrame:
    """Rows [start, start+count) of the pages table, deterministically.

    Fully vectorized (no per-row RNG objects): word j of row i is
    ``_WORDS[splitmix(h_i + j) % V]`` — still a pure function of i, but
    cheap enough to synthesize millions of rows per partition."""
    ids = np.arange(start, start + count, dtype=np.int64)
    h = _rng_for(ids)
    city_u = (h % np.uint64(10**9)).astype(np.float64) / 1e9
    city_idx = np.searchsorted(_CITY_CDF, city_u, side="right")
    city_idx = np.clip(city_idx, 0, len(CITIES) - 1)
    n_words = (8 + (h >> np.uint64(12)) % np.uint64(25)).astype(np.int64)
    lang_idx = (h >> np.uint64(20)) % np.uint64(len(_LANGS))

    max_w = int(n_words.max()) if count else 0
    # (count, max_w) matrix of word indices, one splitmix per (row, j)
    widx = (
        _rng_for((h[:, None] + np.uint64(1) + np.arange(max_w, dtype=np.uint64)).astype(np.int64))
        % np.uint64(len(_WORDS))
    ).astype(np.int64)
    words_arr = np.array(_WORDS)
    city_names = np.array([c[0] for c in CITIES])
    texts = []
    urls = []
    for r in range(count):
        city = city_names[city_idx[r]]
        texts.append(city + " " + " ".join(words_arr[widx[r, : n_words[r]]]))
        urls.append(f"https://{city}.example.com/p/{ids[r]}")
    ts = pd.to_datetime(1704067200 + (h % np.uint64(86400 * 30)).astype(np.int64), unit="s")
    # deterministic raw page bytes: REAL markup around the body text
    # (city rides in an attribute — inside a tag — so the pinned
    # tag-strip extraction spec recovers `text` byte-identically;
    # functions/html.py + tests/test_extract_text.py)
    html = [
        (
            '<html><head><meta charset="utf-8"/></head><body class="page" '
            'data-city="' + c + '"><p>' + t + "</p></body></html>"
        ).encode()
        for c, t in zip(city_names[city_idx], texts)
    ]
    return pd.DataFrame(
        {
            "page_id": ids,
            "url": urls,
            "warc_ts": ts,
            "html": html,
            "text": texts,
            "lang": [_LANGS[int(k)] for k in lang_idx],
        }
    )


def synth_pages(spark: SparkSession, n_rows: int, partitions: int = 32) -> DataFrame:
    """Distributed synthesis: `partitions` independent slices via
    mapInPandas over a range frame — no driver materialization, scales
    to any n_rows."""
    per = (n_rows + partitions - 1) // partitions

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                start = int(row["slice_id"]) * per
                cnt = min(per, n_rows - start)
                if cnt > 0:
                    yield synth_pages_pdf(start, cnt)

    slices = spark.range(partitions).withColumnRenamed("id", "slice_id").repartition(
        partitions, "slice_id"
    )
    return slices.mapInPandas(gen, PAGES_SCHEMA)


def geocode_encode(
    pages: DataFrame, res_list: tuple[int, ...] = (7, 9), native: bool = True
) -> DataFrame:
    """Fused geocode + cell-encode producing (lon, lat, cell{r}...).

    Default path is PURE Column expressions (``native=True``): the
    md5 jitter runs JVM-side (``F.md5`` + hex halves parsed with
    ``conv``, exact 64-bit long arithmetic), the city lookup is a
    literal ``create_map``, and the cell encode is the same
    floor/clip/shift formula as ``kernels.cells.cell_encode`` — the
    whole stage stays inside whole-stage codegen with NO Python
    worker at all, which is both the fast path and the one that
    weak-scales (no Arrow transfer, no per-row ``hashlib`` calls —
    the round-1 geocode stage was the last per-row-Python hot loop).
    Bitwise identical to the Arrow-UDF path (``native=False``, kept
    for the parity test tests/test_pipeline.py): jitter integers are
    exact in 64-bit, and the float expression tree matches the NumPy
    one term for term.

    ``native=False``: ONE pandas UDF / one Arrow round trip.
    Chaining separate UDFs costs one Python transfer each — at 10^12
    rows the fusion is the difference between 1 and len(res_list)+1
    passes over the batch."""
    if native:
        return _geocode_encode_native(pages, res_list)
    from gdal_spark.kernels.cells import cell_encode

    city_lon = {c[0]: c[1] for c in CITIES}
    city_lat = {c[0]: c[2] for c in CITIES}
    fields = [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
    fields += [T.StructField(f"cell{r}", T.LongType()) for r in res_list]

    @F.pandas_udf(T.StructType(fields))
    def geo(text: pd.Series, url: pd.Series) -> pd.DataFrame:
        first = text.str.split(" ", n=1).str[0]
        base_lon = first.map(city_lon).fillna(0.0).to_numpy()
        base_lat = first.map(city_lat).fillna(0.0).to_numpy()
        jit = np.array(
            [int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big") for u in url],
            dtype=np.uint64,
        )
        jlon = ((jit % np.uint64(20001)).astype(np.float64) - 10000.0) / 10000.0 * 0.5
        jlat = (
            ((jit >> np.uint64(20)) % np.uint64(20001)).astype(np.float64) - 10000.0
        ) / 10000.0 * 0.5
        lon = base_lon + jlon
        lat = base_lat + jlat
        out = {"lon": lon, "lat": lat}
        for r in res_list:
            out[f"cell{r}"] = cell_encode(lon, lat, r)
        return pd.DataFrame(out)

    cols = [F.col("_g")[f].alias(f) for f in ["lon", "lat"] + [f"cell{r}" for r in res_list]]
    return pages.withColumn("_g", geo(F.col("text"), F.col("url"))).select("*", *cols).drop("_g")


# 2^32 mod 20001 — folds the high md5 half into the unsigned-64 modulus
# without ever materializing a 64-bit unsigned value in a signed long
_POW32_MOD = (1 << 32) % 20001


def _geocode_encode_native(pages: DataFrame, res_list: tuple[int, ...]) -> DataFrame:
    """Column-expression geocode + cell encode (see geocode_encode).

    jit = int.from_bytes(md5(url)[:8], 'big') = hi·2^32 + lo where
    hi/lo are the first/second 4 hex-byte halves; then
      jit % 20001        == (hi·(2^32 % 20001) + lo) % 20001
      (jit >> 20) % 20001 == (hi·2^12 + (lo >> 20)) % 20001
    — every intermediate fits a signed 64-bit long, so the JVM longs
    reproduce the NumPy uint64 arithmetic exactly."""
    city_map = F.create_map(
        *[F.lit(v) for c in CITIES for v in (c[0], float(c[1]))]
    )
    city_map_lat = F.create_map(
        *[F.lit(v) for c in CITIES for v in (c[0], float(c[2]))]
    )
    first = F.split(F.col("text"), " ", 2).getItem(0)
    base_lon = F.coalesce(F.element_at(city_map, first), F.lit(0.0))
    base_lat = F.coalesce(F.element_at(city_map_lat, first), F.lit(0.0))

    hhex = F.md5(F.col("url"))
    hi = F.conv(F.substring(hhex, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hhex, 9, 8), 16, 10).cast("long")
    h_mod = F.pmod(hi * F.lit(_POW32_MOD) + lo, F.lit(20001))
    h20_mod = F.pmod(F.shiftleft(hi, 12) + F.shiftright(lo, 20), F.lit(20001))
    jlon = (h_mod.cast("double") - F.lit(10000.0)) / F.lit(10000.0) * F.lit(0.5)
    jlat = (h20_mod.cast("double") - F.lit(10000.0)) / F.lit(10000.0) * F.lit(0.5)
    lon = base_lon + jlon
    lat = base_lat + jlat

    out = pages.withColumn("lon", lon).withColumn("lat", lat)
    for r in res_list:
        n = 1 << r
        x = F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
        y = F.floor((F.lit(90.0) - F.col("lat")) / F.lit(180.0) * F.lit(float(n)))
        x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1)).cast("long")
        y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1)).cast("long")
        cell = (
            F.lit(int(r) << 57).cast("long")
            + F.shiftleft(x, 28).cast("long")
            + y
        )
        out = out.withColumn(f"cell{r}", cell)
    return out
