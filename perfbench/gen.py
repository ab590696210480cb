"""Seeded input generators for the benchmark.

Everything here depends only on numpy/pandas/pyarrow and the standard
library, never on the engine, so the inputs (and the truth the checks
compare against) are independent of the code under test. The same seed
gives byte-identical inputs.

Three inputs:

* ``snapshot_feed`` — a Boursorama-style tick feed, one parquet file per
  trading day: market-prefixed symbols, ``SRD`` names, comma-decimal and
  ``(c)`` prices, ISINs, and a share of rows cleansing must drop.
* ``euronext_listings`` — one listing file per trading day, mostly TSV
  (``.csv``), some ``.xlsx``, and one malformed file. Listings reuse the
  feed's (ISIN, symbol) pairs, because a renamed symbol drops its ticks,
  and add a few new listings.
* ``corpus`` — ``documents.parquet`` whose texts carry language marker
  words, so the corpus build's selection keeps a real share.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Boursorama market prefixes (normalized away by cleansing); "" is a bare
# symbol, which the engine maps to Paris.
PREFIXES = ("1rP", "1rA", "FF11_", "1z", "1g", "")
# Listing market text per prefix; Euronext only lists these venues.
LISTING_MARKET = {"1rP": "Euronext Paris", "1rA": "Euronext Amsterdam",
                  "FF11_": "Euronext Brussels", "": "Euronext Paris"}
LISTING_COLUMNS = ("Symbol", "Name", "Last", "Volume", "ISIN", "Market")
SESSION_SECONDS = 8 * 3600 + 1800  # 09:00 - 17:30
MARKETS_ROWS = 10                  # the engine's seed markets dimension
TICK_KEEP_MIN_CHANGE = 0.001       # the engine's tick-compression threshold
FIRST_DAY = dt.date(2024, 1, 2)    # the feed starts on this trading day
NEW_LISTINGS = 3                   # listed companies with no ticks yet
XLSX_SHARE = 0.2                   # listing files written as .xlsx
VOCAB_SIZE = 4096                  # distinct corpus words


def trading_days(n: int) -> list[dt.date]:
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _words(rng: np.random.Generator, n: int, lo: int, hi: int,
           alphabet: str) -> list[str]:
    """n distinct random words of length lo..hi over `alphabet`."""
    out: set[str] = set()
    letters = np.array(list(alphabet))
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        out.add("".join(rng.choice(letters, k)))
    return sorted(out)


def _isin(rng: np.random.Generator, country: str) -> str:
    return country + "".join(map(str, rng.integers(0, 10, 10)))


# ---------------------------------------------------------------------------
# market data: snapshot feed + Euronext listings
# ---------------------------------------------------------------------------


def _companies(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """`n` feed companies, then `NEW_LISTINGS` listed ones with no ticks."""
    syms = _words(rng, n + NEW_LISTINGS, 3, 5, "ABCDEGHIJKLMNOQRSTUVWXY")
    rows = []
    for i, sym in enumerate(syms):
        new = i >= n
        prefix = "1rP" if new else PREFIXES[int(rng.integers(len(PREFIXES)))]
        has_isin = new or rng.random() < 0.85
        rows.append({
            "symbol": sym,
            "prefix": prefix,
            "name": f"{sym.title()} {'SA' if rng.random() < 0.5 else 'NV'}",
            "srd": bool(rng.random() < 0.3),
            "isin": _isin(rng, "FR" if prefix in ("1rP", "") else "NL")
                    if has_isin else None,
            "new": new,
            "p0": float(np.round(np.exp(rng.uniform(np.log(5), np.log(500))), 2)),
        })
    return pd.DataFrame(rows)


def _dirty_price(rng: np.random.Generator, v: np.ndarray) -> np.ndarray:
    """Render clean prices as the feed's locale-dirty strings."""
    s = np.char.mod("%.2f", v)
    style = rng.random(len(v))
    comma = np.char.replace(s, ".", ",")
    out = np.where(style < 0.45, comma, s)
    out = np.where((style >= 0.45) & (style < 0.6), np.char.add(s, " (c)"), out)
    return out.astype(object)


def snapshot_feed(seed: int, n_days: int, n_companies: int,
                  ticks_per_day: int, out_dir: str | None = None) -> dict:
    """Generate the tick feed (and the truth for it).

    Returns ``{"companies", "days", "raw", "files", "n_ticks", "truth"}``
    where ``raw`` is the whole feed as one DataFrame and ``truth`` holds
    what an ingest must produce. With ``out_dir`` the feed is written as
    one parquet file per trading day.
    """
    rng = np.random.default_rng([seed, 1])
    comp = _companies(rng, n_companies)
    feed_comp = comp[~comp["new"]].reset_index(drop=True)
    days = trading_days(n_days)
    parts = []
    for ci, c in feed_comp.iterrows():
        # a company trades on most, not all, days
        active = rng.random(n_days) < 0.9
        active[0] = True
        counts = np.where(active, rng.poisson(ticks_per_day, n_days) + 1, 0)
        n = int(counts.sum())
        # log-price walk: unchanged, or a move of 1-3% (always far from the
        # 0.1% compression threshold, so truth cannot hinge on rounding)
        step = rng.uniform(0.01, 0.03, n) * rng.choice([-1.0, 1.0], n)
        step[rng.random(n) < 0.35] = 0.0
        logp = np.log(c["p0"]) + np.cumsum(step)
        # fold the walk back into [2, 2000] so prices stay positive
        lo, hi = np.log(2.0), np.log(2000.0)
        logp = lo + np.abs(((logp - lo) % (2 * (hi - lo))) - (hi - lo))
        price = np.round(np.exp(logp), 2)
        day_idx = np.repeat(np.arange(n_days), counts)
        # distinct seconds within each (company, day)
        secs = np.empty(n, dtype=np.int64)
        pos = 0
        for k in counts:
            if k:
                s = np.sort(rng.integers(0, SESSION_SECONDS - k, k)) + np.arange(k)
                secs[pos:pos + k] = s
                pos += k
        parts.append(pd.DataFrame({
            "ci": ci, "day_idx": day_idx, "secs": secs, "price": price,
            "volume": rng.integers(1, 5000, n),
        }))
    ticks = pd.concat(parts, ignore_index=True)
    n = len(ticks)
    day_dt = np.array([np.datetime64(d, "s") for d in days])
    ticks["ts"] = day_dt[ticks["day_idx"].to_numpy()] + (
        9 * 3600 + ticks["secs"].to_numpy()).astype("timedelta64[s]")

    # rows cleansing must drop: bad price text, non-positive price, zero volume
    bad = rng.random(n)
    drop_text = bad < 0.02
    drop_neg = (bad >= 0.02) & (bad < 0.03)
    drop_vol = (bad >= 0.03) & (bad < 0.04)
    last = _dirty_price(rng, ticks["price"].to_numpy())
    last[drop_text] = "n/a"
    neg = np.char.mod("%.2f", ticks["price"].to_numpy()[drop_neg])
    last[drop_neg] = np.char.add("-", neg).astype(object)
    vol = ticks["volume"].to_numpy().copy()
    vol[drop_vol] = 0
    ticks["kept"] = ~(drop_text | drop_neg | drop_vol)

    fc = feed_comp.iloc[ticks["ci"].to_numpy()]
    name = np.where(fc["srd"].to_numpy(), "SRD " + fc["name"], fc["name"])
    raw = pd.DataFrame({
        "symbol": (fc["prefix"] + fc["symbol"]).to_numpy(),
        "name": name,
        "last": last,
        "volume": vol.astype(np.int64),
        "isin": fc["isin"].to_numpy(),
        "alias": "paris",
        "ts": ticks["ts"].to_numpy().astype("datetime64[us]"),
    })
    files = []
    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
        schema = pa.schema([
            ("symbol", pa.string()), ("name", pa.string()),
            ("last", pa.string()), ("volume", pa.int64()),
            ("isin", pa.string()), ("alias", pa.string()),
            ("ts", pa.timestamp("us")),
        ])
        for di, d in enumerate(days):
            part = raw[ticks["day_idx"].to_numpy() == di]
            path = os.path.join(out_dir, f"{d.isoformat()}.parquet")
            pq.write_table(pa.Table.from_pandas(part, schema=schema,
                                                preserve_index=False), path)
            files.append(path)
    truth = _ingest_truth(ticks, feed_comp, days)
    return {"companies": comp, "days": days, "raw": raw, "files": files,
            "n_ticks": n, "truth": truth}


def _ingest_truth(ticks: pd.DataFrame, comp: pd.DataFrame,
                  days: list[dt.date]) -> dict:
    """What cmd_ingest must write, computed the way the engine's float
    arithmetic does it: prices and volumes are float32 in `stocks`, bars
    sum volume in double, `mean` adds four float32 values then divides
    in double, and compression compares a double ratio of a float32
    difference."""
    k = ticks[ticks["kept"]].sort_values(["ci", "ts"]).reset_index(drop=True)
    v = k["price"].to_numpy().astype(np.float32)
    ci = k["ci"].to_numpy()
    day = k["day_idx"].to_numpy()
    first_series = np.r_[True, ci[1:] != ci[:-1]]
    last_series = np.r_[ci[1:] != ci[:-1], True]
    prev = np.r_[v[0], v[:-1]]
    with np.errstate(divide="ignore", invalid="ignore"):
        pct = (v - prev).astype(np.float64) / np.abs(prev).astype(np.float64)
    pct[first_series] = 0.0
    grp = np.r_[True, (ci[1:] != ci[:-1]) | (day[1:] != day[:-1])]
    grp_end = np.r_[grp[1:], True]
    keep = (np.abs(pct) > TICK_KEEP_MIN_CHANGE) | grp | grp_end \
        | first_series | last_series

    k["v"] = v
    k["vol"] = k["volume"].astype(np.float32).astype(np.float64)
    g = k.groupby(["ci", "day_idx"], sort=True)
    bars = pd.DataFrame({
        "open": g["v"].first(), "close": g["v"].last(),
        "high": g["v"].max(), "low": g["v"].min(), "volume": g["vol"].sum(),
    }).reset_index()
    o, c, h, lo = (bars[x].to_numpy(np.float32) for x in ("open", "close", "high", "low"))
    bars["mean"] = (((o + c) + h) + lo).astype(np.float64) / 4.0
    bars = bars.astype({x: np.float64 for x in ("open", "close", "high", "low")})
    per_day = bars.groupby("day_idx").agg(
        n_bars=("ci", "size"), open=("open", "sum"), close=("close", "sum"),
        high=("high", "sum"), low=("low", "sum"), volume=("volume", "sum"),
        mean=("mean", "sum"))
    per_day.index = [days[i].isoformat() for i in per_day.index]
    return {
        "counts": {"markets": MARKETS_ROWS,
                   "companies": int(len(comp)) + NEW_LISTINGS,
                   "stocks": int(len(k)),
                   "daystocks": int(len(bars)),
                   "stocks_compressed": int(keep.sum())},
        "per_day": {d: {c: float(x) for c, x in row.items()}
                    for d, row in per_day.iterrows()},
    }


def write_xlsx(path: str, header: list[str], rows: list[tuple]) -> None:
    """Single-sheet xlsx with inline-string cells (stdlib zip + XML)."""
    def cell(ref: str, value) -> str:
        text = (str(value).replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))
        return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                f"{text}</t></is></c>")

    body = io.StringIO()
    for r, row in enumerate([tuple(header)] + list(rows), start=1):
        body.write(f'<row r="{r}">')
        for c, value in enumerate(row):
            if value is not None:
                body.write(cell(f"{chr(ord('A') + c)}{r}", value))
        body.write("</row>")
    ns = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml":
            f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{ns}/package/2006/content-types">'
            f'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            f'<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>',
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}/spreadsheetml/2006/main" '
            f'xmlns:r="{ns}/officeDocument/2006/relationships"><sheets>'
            f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet1.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}/spreadsheetml/2006/main">'
            f"<sheetData>{body.getvalue()}</sheetData></worksheet>",
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            # a fixed member timestamp keeps the file bytes seed-determined
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)),
                        xml, zipfile.ZIP_DEFLATED)


def euronext_listings(seed: int, feed: dict, out_dir: str) -> dict:
    """One listing file per trading day of `feed`. Rows reuse the feed's
    (ISIN, symbol) pairs for ISIN-carrying companies on Euronext venues,
    plus the new listings; a file is ``.xlsx`` with probability
    `XLSX_SHARE`, else TSV named ``.csv``. One malformed ``.csv`` is
    added, which the reader must skip."""
    rng = np.random.default_rng([seed, 2])
    comp = feed["companies"]
    listed = comp[comp["isin"].notna() & comp["prefix"].isin(list(LISTING_MARKET))]
    os.makedirs(out_dir, exist_ok=True)
    files = {"csv": 0, "xlsx": 0, "malformed": 1}
    for d in feed["days"]:
        rows = []
        for _, c in listed.iterrows():
            price = f"{c['p0'] * rng.uniform(0.9, 1.1):.2f}".replace(".", ",")
            volume = f"{int(rng.integers(1, 900))} {int(rng.integers(0, 1000)):03d}"
            name = ("SRD " if c["srd"] else "") + c["name"]
            rows.append((c["symbol"], name, price, volume, c["isin"],
                         LISTING_MARKET[c["prefix"]]))
        if rng.random() < XLSX_SHARE:
            write_xlsx(os.path.join(out_dir, f"{d.isoformat()}.xlsx"),
                       list(LISTING_COLUMNS), rows)
            files["xlsx"] += 1
        else:
            with open(os.path.join(out_dir, f"{d.isoformat()}.csv"), "w") as fh:
                fh.write("\t".join(LISTING_COLUMNS) + "\n")
                fh.writelines("\t".join(r) + "\n" for r in rows)
            files["csv"] += 1
    with open(os.path.join(out_dir, "zz_malformed.csv"), "w") as fh:
        fh.write("h1\th2\nmalformed single field\n")
    files["rows_per_file"] = int(len(listed))
    return files


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

# Language marker words, as the engine's language heuristic scores them.
MARKERS = {"en": ("the", "of", "and"), "fr": ("le", "de", "et"),
           "es": ("el", "de", "y"), "de": ("der", "und", "die")}
LANG_MIX = (("en", 0.6), ("fr", 0.25), ("es", 0.08), ("de", 0.07))


def corpus(seed: int, n_docs: int, out_dir: str | None = None) -> pd.DataFrame:
    """`documents` (doc_id, text, lang, source, n_chars). Texts draw from
    a large random vocabulary (so MinHash bands rarely collide by chance)
    with the language's marker words mixed in; about 5% are low-quality
    short texts. With `out_dir`, writes ``documents.parquet`` there."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_words(rng, VOCAB_SIZE, 3, 9, "abcdefghijklmnopqrstuvwxyz"))
    langs = rng.choice([l for l, _ in LANG_MIX], n_docs,
                       p=[p for _, p in LANG_MIX])
    lengths = rng.integers(30, 160, n_docs)
    short = rng.random(n_docs) < 0.05
    lengths[short] = rng.integers(3, 12, int(short.sum()))
    texts = []
    for lang, n in zip(langs, lengths):
        words = vocab[rng.integers(0, VOCAB_SIZE, n)]
        markers = np.array(MARKERS[lang])
        mask = rng.random(n) < 0.15
        words[mask] = markers[rng.integers(0, len(markers), int(mask.sum()))]
        texts.append(" ".join(words))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs.astype(object),
        "source": np.char.add("src", (np.arange(n_docs) % 7).astype(str)).astype(object),
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       os.path.join(out_dir, "documents.parquet"))
    return docs
