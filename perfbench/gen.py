"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the same seed gives byte-identical
inputs, and nothing touches Spark.  Two families of input are produced:

* a TPC-H-ish star (``region`` .. ``lineitem`` plus ``events``,
  ``documents`` and ``embeddings``) in the layout ``sources.readers.load_star``
  reads, one parquet file per table;
* SAP T-code exports (ZMB51 goods movements, ZRSSALE billing lines) as
  tab-delimited text with two banner rows and the dirty-value quirks the
  reference's exports carry: trailing-minus negatives, thousands commas,
  ``-`` as the null marker, zero-padded articles, stray whitespace and
  ``MM/dd/yyyy`` dates.  The stream twin of the movement data is a plain
  header TSV at the merge grain.

Each SAP line is also returned in parsed form so the expected fact states
can be computed without the engine (``expect.py``).
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1995, 1, 2)

# --------------------------------------------------------------------------
# Star schema
# --------------------------------------------------------------------------

_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer the index sketch shard token plan cache ledger"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def _ts(days: np.ndarray) -> pa.Array:
    """Day offsets from 1995-01-01 as a microsecond timestamp column."""
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def doc_text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(rng.choice(_WORDS, n_tokens))


def make_documents(rng: np.random.Generator, n_docs: int) -> dict[str, list]:
    """Synthetic web documents with planted exact and near duplicates.

    About 8% of documents copy an earlier one verbatim and about 12% copy
    one with a few tokens edited, so the near-dup clustering, exact dedup
    and best-per-cluster stages all have work to do.
    """
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and u < 0.20:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks))
        else:
            texts.append(doc_text(rng, int(rng.integers(12, 90))))
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_star(out_dir: str, seed: int, sf: float, n_docs: int) -> dict[str, int]:
    """Write the star at scale ``sf`` (lineitem = 6M x sf rows); returns
    the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(1000, int(1_500_000 * sf))
    n_part = max(500, int(200_000 * sf))
    n_cust = max(300, int(150_000 * sf))
    n_supp = max(50, int(10_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900, 450_000, n_orders), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders), per_order)
    n_li = len(okeys)
    linenum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    partkey = rng.integers(0, n_part, n_li)
    # a quarter of the lines sell a dozen staple articles, so some
    # (article, site) pairs sell in enough weeks for the reorder-point review
    hot = rng.random(n_li) < 0.25
    partkey[hot] = rng.integers(0, 12, int(hot.sum()))
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        # mostly one of the part's four suppliers (the catalog's derived
        # partsupp), as TPC-H draws them
        "l_suppkey": pa.array(np.where(
            rng.random(n_li) < 0.8,
            (partkey + rng.integers(0, 4, n_li) * max(n_supp // 4, 1)) % n_supp,
            rng.integers(0, n_supp, n_li)), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(odays[okeys] + rng.integers(1, 122, n_li)),
    })
    n_ev = max(1000, int(1_000_000 * sf))
    ev_types = np.array(["signup", "purchase", "view", "click", "error"])
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                           "timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, n_ev), pa.int64()),
        "event_type": rng.choice(ev_types, n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = pa.table(make_documents(rng, n_docs))
    n_emb = max(200, n_docs // 2)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(rng.standard_normal((n_emb, 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# --------------------------------------------------------------------------
# SAP exports
# --------------------------------------------------------------------------

BANNER = "{code} List Display\t\t\t\t\t\t\t\t\t\n{d} Dynamic List\t\t\t\t\t\t\t\t\t\n"
ZMB51_HEADER = ("\tArticle \t Site\tMvT\tPstng Date\tQuantity i \tAmount LC\tBUn"
                "\tCost Ctr\tArt. Doc.\n")
ZRSSALE_HEADER = "\tBill.Doc.\tItem\t Article\tBill. Date\tMTyp \tBill.qty\tSales Amou\n"
STREAM_HEADER = "Article\tSite\tDate\tQuantity\tCost\tBUn\n"
_UNITS = ("EA", "CS", "KG", "BX")


def sap_date(d: dt.date) -> str:
    return d.strftime("%m/%d/%Y")


def sap_number(v: Decimal | None, pad: bool) -> str:
    """Render like a SAP list export: '-' for null, thousands commas and a
    trailing minus for negatives, with stray padding when ``pad``."""
    if v is None:
        return "-"
    s = f"{abs(v):,.2f}" + ("-" if v < 0 else "")
    return f" {s}  " if pad else s


def _cents(c: int) -> Decimal:
    return Decimal(int(c)).scaleb(-2)


@dataclass
class MovementLine:
    article: str   # canonical (zeros stripped)
    site: str
    date: dt.date
    qty: Decimal | None  # raw sign, as exported
    cost: Decimal | None
    bun: str


@dataclass
class BillingLine:
    doc: str
    item: str
    article: str
    date: dt.date
    mtyp: str
    qty: Decimal | None
    amt: Decimal | None


@dataclass
class SapFile:
    """One export file: rendered text plus the parsed lines it carries."""

    name: str
    text: str
    lines: list = field(default_factory=list)


class SapExports:
    """Seeded ZMB51 / ZRSSALE exports, one file per posting date.

    ``lines_per_day`` movement lines and ``bill_per_day`` billing lines are
    drawn per date; a share of movement lines repeat an (Article, Site) of
    the same day so the PK-grain sum has groups of several lines.
    """

    def __init__(self, seed: int, lines_per_day: int, bill_per_day: int,
                 n_articles: int = 3000, n_sites: int = 120) -> None:
        self.seed = seed
        self.lines_per_day = lines_per_day
        self.bill_per_day = bill_per_day
        self.n_articles = n_articles
        self.n_sites = n_sites

    def _rng(self, *key: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])

    def movement_lines(self, day: int, variant: int = 0) -> list[MovementLine]:
        rng = self._rng(1, day, variant)
        n = self.lines_per_day
        date = EPOCH + dt.timedelta(days=day)
        art = rng.integers(1, self.n_articles + 1, n)
        site = 1000 + 41 * rng.integers(0, self.n_sites, n)
        src = (rng.random(n) * np.arange(n)).astype(int)
        for i in np.flatnonzero(rng.random(n) < 0.25):
            art[i], site[i] = art[src[i]], site[src[i]]  # repeat an earlier key of the day
        qty = rng.integers(-6000, 20000, n)
        cost = rng.integers(-90000, 400000, n)
        nulls = rng.random((n, 2)) < 0.02
        return [MovementLine(str(a), str(s), date, None if qn else _cents(q),
                             None if cn else _cents(c), _UNITS[a % len(_UNITS)])
                for a, s, q, c, (qn, cn) in zip(art, site, qty, cost, nulls)]

    def billing_lines(self, day: int, variant: int = 0) -> list[BillingLine]:
        rng = self._rng(2, day, variant)
        n = self.bill_per_day
        date = EPOCH + dt.timedelta(days=day)
        art = rng.integers(1, self.n_articles + 1, n)
        mtyp = np.where(rng.random(n) < 0.7, "ZTTG", rng.choice(["ZNOR", "ZXXX"], n))
        qty = rng.integers(-500, 4000, n)
        amt = rng.integers(-10000, 250000, n)
        rebill = rng.random(n) < 0.05
        out: list[BillingLine] = []
        for k in range(n):
            doc, item = str(90_000_000 + day * 1000 + k // 3), str(10 * (k % 3 + 1))
            out.append(BillingLine(doc, item, str(art[k]), date, str(mtyp[k]),
                                   _cents(qty[k]), _cents(amt[k])))
            if rebill[k]:  # the same document re-billed later in the file
                out.append(BillingLine(doc, item, str(art[k]), date, str(mtyp[k]),
                                       _cents(qty[k] + 100), _cents(amt[k] + 999)))
        return out

    def corrections(self, days: range, share: float, variant: int):
        """Corrected re-deliveries of a share of ``days``' keys: the full
        line set of each picked movement key with new amounts, and new
        amounts for picked billing documents."""
        rng = self._rng(3, days.start, variant)
        mv: list[MovementLine] = []
        bl: list[BillingLine] = []
        for day in days:
            lines = self.movement_lines(day)
            keys = sorted({(m.article, m.site) for m in lines})
            picked = {keys[i] for i in rng.choice(len(keys), int(len(keys) * share),
                                                  replace=False)}
            mv += [MovementLine(m.article, m.site, m.date, _cents(rng.integers(-6000, 20000)),
                                _cents(rng.integers(-90000, 400000)), m.bun)
                   for m in lines if (m.article, m.site) in picked]
            bl += [BillingLine(b.doc, b.item, b.article, b.date, b.mtyp,
                               _cents(rng.integers(100, 4000)), _cents(rng.integers(100, 250000)))
                   for b in self.billing_lines(day) if rng.random() < share]
        return mv, bl

    def render_movements(self, name: str, lines: list[MovementLine], stamp: dt.date) -> SapFile:
        rng = self._rng(4, zlib.crc32(name.encode()))
        flags = rng.random((len(lines), 3)) < (0.5, 0.1, 0.1)
        body = [
            "\t" + "\t".join([
                f"{int(m.article):010d}" if zp else f" {m.article}", m.site,
                "251" if i % 2 else "252", sap_date(m.date), sap_number(m.qty, qp),
                sap_number(m.cost, cp), m.bun, f"CC{int(m.site) % 97:03d}", f"49{i:08d}",
            ]) + "\n"
            for i, (m, (zp, qp, cp)) in enumerate(zip(lines, flags))
        ]
        banner = BANNER.format(code="ZMB51", d=sap_date(stamp))
        return SapFile(name, banner + ZMB51_HEADER + "".join(body), lines)

    def render_billing(self, name: str, lines: list[BillingLine], stamp: dt.date) -> SapFile:
        rng = self._rng(5, zlib.crc32(name.encode()))
        flags = rng.random((len(lines), 3)) < (0.5, 0.1, 0.1)
        body = [
            "\t" + "\t".join([b.doc, b.item, f"{int(b.article):010d}" if zp else f" {b.article}",
                              sap_date(b.date), b.mtyp, sap_number(b.qty, qp),
                              sap_number(b.amt, ap)]) + "\n"
            for b, (zp, qp, ap) in zip(lines, flags)
        ]
        banner = BANNER.format(code="ZRSSALE", d=sap_date(stamp))
        return SapFile(name, banner + ZRSSALE_HEADER + "".join(body), lines)

    def daily(self, day: int) -> tuple[SapFile, SapFile]:
        d = EPOCH + dt.timedelta(days=day)
        tag = d.strftime("%Y%m%d")
        return (self.render_movements(f"ZMB51_{tag}.txt", self.movement_lines(day), d),
                self.render_billing(f"ZRSSALE_{tag}.txt", self.billing_lines(day), d))


def stream_file(name: str, rows: dict) -> SapFile:
    """Header TSV at the (Article, Site, Date) grain for the stream twin;
    ``rows`` maps the key to (Quantity, Cost, BUn)."""
    body = "".join(
        f"{a}\t{s}\t{d.isoformat()}\t{q}\t{c}\t{u}\n"
        for (a, s, d), (q, c, u) in sorted(rows.items())
    )
    return SapFile(name, STREAM_HEADER + body, list(rows.items()))


def write_files(directory: str, files: list[SapFile]) -> int:
    """Write ``files`` into ``directory``; returns the bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for f in files:
        data = f.text.encode()
        with open(os.path.join(directory, f.name), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total
