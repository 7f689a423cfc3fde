"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and a fixed shape: a
different seed changes the bytes, never the row count, the widths or
the file sizes. The program under test only ever sees the files these
functions write.

- :func:`write_fixed_width` writes the reference's ingest shape: 30
  columns, 528 runes per row, CRLF, the ``yyyy-MM-dd-HH.mm.ss.ffffff``
  timestamp format and ``J``/``N``/``Y`` booleans. It returns the
  per-column checksums of the values it rendered (see
  :func:`checksum_sql`), so a consumer can prove that what came out of
  the program is what went in.
- :func:`write_tables` writes the query tables (the TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  schemas and value distributions of the repository's sf0.1 test
  tables, at the sf0.1 row counts times a scale, as parquet.
"""

from __future__ import annotations

import os
import zlib

import numpy as np

# 30 fields, 528 runes: the reference's benchmark row.
FIELDS = [
    ("order_key", "long", 12), ("part_key", "long", 12),
    ("supp_key", "long", 12), ("line_no", "int", 4),
    ("quantity", "double", 12), ("ext_price", "double", 14),
    ("discount", "double", 8), ("tax", "double", 8),
    ("return_flag", "string", 1), ("line_status", "string", 1),
    ("ship_ts", "timestamp-micros", 26), ("commit_ts", "timestamp-micros", 26),
    ("receipt_ts", "timestamp-micros", 26), ("ship_instruct", "string", 25),
    ("ship_mode", "string", 10), ("comment", "string", 59),
    ("is_return", "boolean", 1), ("is_open", "boolean", 1),
    ("qty_int", "int", 6), ("price_cents", "long", 12),
    ("disc_bp", "int", 6), ("tax_bp", "int", 6),
    ("pad1", "string", 40), ("pad2", "string", 40), ("pad3", "string", 40),
    ("pad4", "string", 40), ("pad5", "string", 40),
    ("key_str", "string", 20), ("region_code", "int", 4),
    ("checksum", "long", 16),
]
ROW_RUNES = sum(w for _, _, w in FIELDS)
assert ROW_RUNES == 528, ROW_RUNES
DECIMALS = {"quantity": 2, "ext_price": 2, "discount": 3, "tax": 3}

# Checksums are sums of per-value tokens reduced modulo this prime, so
# every sum fits a signed 64-bit long on both sides at any row count.
MOD = 2_147_483_647


def avro_fixed_schema() -> dict:
    """The fixed-width schema in the program's Avro-JSON + ``len`` form."""
    fields = []
    for name, t, w in FIELDS:
        if t.startswith("timestamp"):
            fields.append({"name": name, "len": w,
                           "type": {"type": "long", "logicalType": t}})
        else:
            fields.append({"name": name, "type": t, "len": w})
    return {"type": "record", "name": "bench528", "fields": fields}


def checksum_sql(name: str, t: str) -> str:
    """Spark SQL for one column's checksum over a decoded table; the
    generator computes the same token sums from the values it wrote."""
    if t in ("long", "int"):
        tok = f"pmod(`{name}`, {MOD})"
    elif t == "double":
        tok = f"pmod(CAST(round(`{name}` * {10 ** DECIMALS[name]}) AS BIGINT), {MOD})"
    elif t.startswith("timestamp"):
        tok = f"pmod(unix_micros(`{name}`), {MOD})"
    elif t == "boolean":
        tok = f"CASE WHEN `{name}` THEN 1 ELSE 0 END"
    else:
        tok = f"crc32(CAST(`{name}` AS BINARY))"
    # a NULL anywhere poisons the checksum instead of being skipped
    return (f"CASE WHEN count(`{name}`) = count(*) "
            f"THEN CAST(sum({tok}) AS BIGINT) END AS `{name}`")


# ----------------------------------------------------------- rendering

_EPOCH_1992 = 694_224_000  # 1992-01-01 00:00:00 UTC, seconds
_SPAN_S = 7 * 365 * 86_400


def _civil(days: np.ndarray):
    """Days since 1970-01-01 → (y, m, d), Hinnant's public algorithm."""
    z = days + 719_468
    era = np.where(z >= 0, z, z - 146_096) // 146_097
    doe = z - era * 146_097
    yoe = (doe - doe // 1460 + doe // 36_524 - doe // 146_096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = np.where(mp < 10, mp + 3, mp - 9)
    return y + (m <= 2), m, d


def _put_digits(mat, start: int, width: int, v: np.ndarray,
                pad: bool = True) -> None:
    """Right-aligned decimal digits of non-negative ``v`` into
    ``mat[:, start:start+width]``; leading zeros become spaces when
    ``pad`` (a zero value still shows one digit)."""
    v = v.astype(np.int64)
    for k in range(width):
        col = start + width - 1 - k
        digit = (v // 10 ** k) % 10
        ch = digit + 48
        if pad and k > 0:
            ch = np.where(v >= 10 ** k, ch, 32)
        mat[:, col] = ch


def _put_fixed(mat, start: int, width: int, units: np.ndarray,
               dec: int) -> None:
    """``units / 10**dec`` as right-aligned ``int.frac`` text."""
    _put_digits(mat, start + width - dec, dec, units % 10 ** dec, pad=False)
    mat[:, start + width - dec - 1] = ord(".")
    _put_digits(mat, start, width - dec - 1, units // 10 ** dec)


def _put_ts(mat, start: int, micros: np.ndarray) -> None:
    secs, frac = np.divmod(micros, 1_000_000)
    days, sod = np.divmod(secs, 86_400)
    y, m, d = _civil(days)
    parts = [(0, 4, y), (5, 2, m), (8, 2, d), (11, 2, sod // 3600),
             (14, 2, sod // 60 % 60), (17, 2, sod % 60), (20, 6, frac)]
    for off, w, v in parts:
        _put_digits(mat, start + off, w, v, pad=False)
    for off, ch in ((4, "-"), (7, "-"), (10, "-"), (13, "."), (16, "."),
                    (19, ".")):
        mat[:, start + off] = ord(ch)


def _vocab(words: list[str], width: int, dtype) -> np.ndarray:
    """Words → (len(words), width) code-point matrix, space-padded."""
    rows = [[ord(c) for c in w[:width].ljust(width)] for w in words]
    return np.array(rows, dtype=dtype)


def _strings(rng, width: int, n_vocab: int, stem: str,
             extra: str = "") -> list[str]:
    """A seeded vocabulary of distinct padded strings for one column."""
    out = []
    for i in range(n_vocab):
        tag = "".join(chr(c) for c in rng.integers(97, 123, size=6))
        out.append(f"{stem}{extra if i % 3 == 0 else ''}-{tag}-{i}"[:width])
    return out


def _block(rng, n: int, *, unicode: bool):
    """Render ``n`` rows into an (n, 528) code-point matrix; returns
    (matrix, {column: token sum}) with every sum an exact Python int."""
    dtype = np.uint32 if unicode else np.uint8
    mat = np.empty((n, ROW_RUNES), dtype=dtype)
    sums: dict[str, int] = {}
    pos = 0
    for name, t, w in FIELDS:
        if t in ("long", "int"):
            hi = min(10 ** w - 1, 10 ** 11) if t == "long" else 10 ** min(w, 9) - 1
            v = rng.integers(0, hi, size=n, dtype=np.int64)
            _put_digits(mat, pos, w, v)
            sums[name] = int((v % MOD).sum())
        elif t == "double":
            dec = DECIMALS[name]
            units = rng.integers(0, 10 ** (w - 2), size=n, dtype=np.int64)
            _put_fixed(mat, pos, w, units, dec)
            sums[name] = int((units % MOD).sum())
        elif t.startswith("timestamp"):
            secs = _EPOCH_1992 + rng.integers(0, _SPAN_S, size=n)
            micros = secs * 1_000_000 + rng.integers(0, 1_000_000, size=n)
            _put_ts(mat, pos, micros)
            sums[name] = int((micros % MOD).sum())
        elif t == "boolean":
            pick = rng.integers(0, 4, size=n)
            letters = np.array([ord(c) for c in "JYNn"], dtype=dtype)
            mat[:, pos] = letters[pick]
            sums[name] = int((pick < 2).sum())
        else:
            extra = "åäö日" if unicode else ""
            words = _strings(rng, w, 64 if w > 1 else 3, name[:6], extra) \
                if w > 1 else ["A", "N", "R"]
            vocab = _vocab(words, w, dtype)
            idx = rng.integers(0, len(words), size=n)
            mat[:, pos:pos + w] = vocab[idx]
            crcs = np.array([zlib.crc32("".join(map(chr, r)).encode())
                             for r in vocab], dtype=np.int64)
            sums[name] = int(np.bincount(idx, minlength=len(words)) @ crcs)
        pos += w
    return mat, sums


def write_fixed_width(path: str, seed: int, rows: int, *,
                      unicode: bool = False, block_rows: int = 60_000) -> dict:
    """Write ``rows`` fixed-width rows to ``path``; returns
    ``{"rows", "bytes", "sums"}``.

    One seeded block of ``block_rows`` rows is rendered and written
    ``rows / block_rows`` times with fresh ``order_key`` values, so
    every row is distinct while set-up stays cheap; the copies lie tens
    of MB apart, far outside any compressor window. ``unicode`` mixes
    multibyte runes into the string columns (widths stay rune counts),
    which only the rune-correct expression tier slices correctly."""
    n = min(rows, block_rows)
    if rows % n:
        raise ValueError(f"rows={rows} is not a multiple of {n}")
    rng = np.random.default_rng(seed)
    mat, base = _block(rng, n, unicode=unicode)
    sums = {k: v * (rows // n) for k, v in base.items()}
    # order_key (the first 12 runes) is re-rendered in every copy
    keys = seed % 1000 * 10 ** 8 + np.arange(rows, dtype=np.int64)
    sums["order_key"] = int((keys % MOD).sum())
    if not unicode:
        buf = np.empty((n, ROW_RUNES + 2), dtype=np.uint8)
        buf[:, :ROW_RUNES] = mat
        buf[:, ROW_RUNES:] = (13, 10)
    total = 0
    with open(path, "wb") as fh:
        for start in range(0, rows, n):
            if unicode:
                _put_digits(mat, 0, 12, keys[start:start + n])
                text = mat.view(f"<U{ROW_RUNES}").ravel()
                data = ("\r\n".join(text.tolist()) + "\r\n").encode()
            else:
                _put_digits(buf, 0, 12, keys[start:start + n])
                data = buf.tobytes()
            fh.write(data)
            total += len(data)
    return {"rows": rows, "bytes": total, "sums": sums}


# ------------------------------------------------------- query tables
#
# The query tables follow the profile of the repository's sf0.1 test
# tables (see TESTDATA.md and FIXTURES.md, group B), measured with
# DuckDB: the same columns and parquet types (timestamps are stored as
# TIMESTAMP(MICROS), as there), the same value ranges, the same number
# of distinct values per column and the same shapes - uniform foreign
# keys, 1-17 lines per order, daily order and ship dates, exponential
# event values, 10-100-token documents over a 30-word vocabulary with
# 5 % "<earlier text> dup" near-duplicates, unit-length embeddings.
# Row counts are the sf0.1 ones times ``scale``.

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_DAY_US = 86_400 * 1_000_000
_1995_01_01 = 788_918_400   # seconds since the epoch
_2024_01_01 = 1_704_067_200


def _days_us(rng, n: int, start_s: int, days: int):
    """Midnights of ``n`` uniform days in ``[start, start + days]``."""
    return start_s * 1_000_000 + rng.integers(0, days + 1, size=n) * _DAY_US


def _money(rng, n: int, lo: float, hi: float):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng, words, n: int, p=None):
    return np.asarray(words, dtype=object)[
        rng.choice(len(words), size=n, p=p)]


def _documents(rng, d: int) -> list[str]:
    texts = [" ".join(_pick(rng, _WORDS, int(k)))
             for k in rng.integers(10, 101, size=d)]
    for i in rng.choice(d, size=d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    return texts


def query_tables(seed: int, scale: float = 1.0) -> dict:
    """The ten query tables at sf0.1 row counts x ``scale``, as
    {name: pyarrow.Table}."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 5) for k, v in dict(
        customer=15_000, supplier=1_000, part=20_000, orders=150_000,
        lineitem=600_000, events=100_000, users=1_500, documents=5_000,
        embeddings=2_000).items()}
    ts = pa.timestamp("us")
    t: dict = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, size=c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, size=s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    adjectives = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, adjectives, p),
                                              _pick(rng, nouns, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=p)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], p),
        "p_size": rng.integers(1, 51, size=p).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(p) % 1000 / 10, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, size=o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000, 500_000),
        "o_orderdate": pa.array(_days_us(rng, o, _1995_01_01, 2404), ts),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, size=li),
        "l_partkey": rng.integers(0, p, size=li),
        "l_suppkey": rng.integers(0, s, size=li),
        "l_linenumber": rng.integers(1, 8, size=li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900, 105_000),
        "l_discount": np.round(rng.integers(0, 11, size=li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, size=li) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(
            _days_us(rng, li, _1995_01_01 + 86_400, 2498), ts)})
    e = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(np.sort(_2024_01_01 * 1_000_000 + rng.integers(
            0, 30 * _DAY_US, size=e)), ts),
        "user_id": rng.integers(0, n["users"], size=e),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": np.round(rng.exponential(50, size=e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=e)]})
    d = n["documents"]
    texts = _documents(rng, d)
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], d,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    m = n["embeddings"]
    vecs = rng.normal(size=(m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64)
                       .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=m).astype(np.int32)})
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> int:
    """Write :func:`query_tables` as ``<out_dir>/<name>.parquet``;
    returns the bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in query_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
