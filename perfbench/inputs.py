"""Seeded input generators for the engine benchmark.

Two families, both a pure function of the seed:

* ``write_tables`` — the star-schema tables plus ``events``, ``documents``
  and ``embeddings``, in the layout and value distributions of the sf0.1
  testdata the engine's oracles are written against (one parquet file per
  table, one row group per file). ``fidelity.py`` compares them with a
  reference directory.
* ``write_offers_inputs`` — the paper's daily job: a raw zone of older
  ``ingest_date`` partitions plus a landing parquet of today's documents
  (one per (site, region, experience) leaf, both site DOM contracts), and
  the staged CSV rows the transform must produce from the landing file.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 testdata.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: tuple, last: tuple, n: int) -> pa.Array:
    lo, hi = _day_us(*first) // _DAY_US, _day_us(*last) // _DAY_US
    return _ts(rng.integers(lo, hi + 1, n) * _DAY_US)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts plus the two duplicate shapes the dedup keys look
    for: 5% near-duplicates (an earlier text plus " dup") and a few exact
    copies, scattered over the id space."""
    n_near, n_exact = n // 20, max(1, n // 625)
    base = n - n_near
    vocab = np.array(WORDS)
    lens = rng.integers(10, 101, base)
    flat = vocab[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(flat, cuts)]
    for dst, src in zip(rng.choice(base, n_exact, replace=False), rng.integers(0, base, n_exact)):
        if dst != src:
            texts[dst] = texts[src]
    texts += [texts[i] + " dup" for i in rng.integers(0, base, n_near)]
    texts = [texts[i] for i in rng.permutation(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel(), pa.float32()), dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Every catalog table at ``scale`` × the sf0.1 row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(10, int(v * scale)) for k, v in SF01_ROWS.items()}
    nc, ns, npart, no, nl = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = np.arange(npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + 0.1 * (pk % 1000), 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), no),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    # Sorted, strictly increasing microsecond stamps over 30 days.
    ts = np.sort(rng.integers(0, 30 * _DAY_US - ne, ne)) + np.arange(ne)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_day_us(2024, 1, 1) + ts),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group)
    and return the row-group count per table."""
    os.makedirs(out_dir, exist_ok=True)
    groups = {}
    for name, table in make_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        groups[name] = pq.ParquetFile(path).metadata.num_row_groups
    return groups


# --- offers_etl ---------------------------------------------------------

SITES = ("jjit", "ppl")
LEAF_REGIONS = ("waw", "gd", "tri", "all")
EXPERIENCES = ("intern", "junior", "mid", "senior", "expert", "lead", "manager", "any")
CURRENCIES = ("zł", "PLN", "EUR", "USD", "CHF", "GBP")
# Pay-period token as written → staged value (mies.→month, godz.→h).
PERIODS = {"mies.": "month", "godz.": "h", "rok": "rok", "dzień": "dzień",
           "tydzień": "tydzień", "h": "h"}
TITLE_WORDS = ("Python Java Scala Data Cloud Platform Backend Frontend ML "
               "QA DevOps Security Mobile Go Rust").split()
ROLES = ("Developer Engineer Analyst Architect Specialist Consultant").split()
LEVELS = ("Junior Mid Senior Lead Staff Principal").split()
COMPANY_WORDS = ("Acme Initech Hooli Globex Umbrella Stark Wayne Wonka Soylent "
                 "Tyrell Cyberdyne Aperture").split()
LEGAL = ("Sp. z o.o.", "S.A.", "sp.j.", "Ltd.", "GmbH")
INGEST_TODAY = dt.date(2026, 1, 31)
OLDER_DAYS = 3
OLDER_MEAN_OFFERS = 20
RAW_COLUMNS = ("doc_id", "site", "region", "experience", "ingest_date", "html")
NBSP = "\xa0"


def _amount_text(rng: random.Random, value: float) -> str:
    """Render ``value`` in one of the salary number formats the parser
    accepts: plain, space- or NBSP-thousands, or comma decimals."""
    if value != int(value):
        return f"{value:.2f}".replace(".", ",")
    v = int(value)
    style = rng.randrange(3)
    if style == 0 or v < 1000:
        return str(v)
    sep = " " if style == 1 else NBSP
    return f"{v // 1000}{sep}{v % 1000:03d}"


def _minimal(value: float) -> str:
    # The staged CSV's minimal dot-decimal form: 8000.00 → 8000, 31.50 → 31.5.
    return f"{value:.2f}".rstrip("0").rstrip(".")


def _offer(rng: random.Random) -> tuple[dict, tuple]:
    """One offer's render inputs and the staged CSV row it must produce."""
    level, word, role = rng.choice(LEVELS), rng.choice(TITLE_WORDS), rng.choice(ROLES)
    position = f"{level} {word} {role}"
    # Decorations the position cleaner removes: a non-ASCII symbol and
    # doubled spaces.
    shown = level + ("  " if rng.random() < 0.2 else " ") + word
    shown += (" ★ " if rng.random() < 0.2 else " ") + role
    company = f"{rng.choice(COMPANY_WORDS)} {rng.choice(LEGAL)}"
    if rng.random() < 0.1:
        company = f"{rng.choice(COMPANY_WORDS)} & {company}"
    company_html = company.replace("&", "&amp;")
    if rng.random() < 0.15:
        # NBSP, a newline and edge blanks, all normalised away.
        company_html = f"  {company_html.replace(' ', NBSP + ' ', 1)}\n "
    spec: dict = {"position": shown, "company": company_html, "salary": None}
    kind = rng.random()
    if kind < 0.1:
        return spec, (position, company, "", "", "", "")
    cur = rng.choice(CURRENCIES)
    period = rng.choice(tuple(PERIODS))
    if period in ("godz.", "h"):
        lo = rng.randrange(3000, 20000) / 100.0 if rng.random() < 0.5 else float(rng.randrange(30, 200))
        step = 10.0
    else:
        lo = float(rng.randrange(4, 40) * 1000 + rng.randrange(2) * 500)
        step = 1000.0
    hi = lo if kind < 0.35 else lo + rng.randrange(1, 10) * step
    spec["salary"] = {"lo": lo, "hi": None if kind < 0.35 else hi, "cur": cur, "period": period}
    staged_cur = "PLN" if cur == "zł" else cur
    return spec, (position, company, _minimal(lo), _minimal(hi), staged_cur, PERIODS[period])


def _jjit_item(rng: random.Random, idx: int, spec: dict, closed: bool) -> str:
    sal = spec["salary"]
    spans = []
    if sal is not None:
        # Two spans (single amount) or three (a range), then "cur/period".
        spans.append(_amount_text(rng, sal["lo"]))
        if sal["hi"] is not None:
            spans.append(_amount_text(rng, sal["hi"]))
        spans.append(f"{sal['cur']}/{sal['period']}")
    h6 = "<h6>" + "".join(f"<span>{s}</span>" for s in spans) + "</h6>"
    company = "<a>" + "<div>" * 6 + f"<p>{spec['company']}</p>" + "</div>" * 6 + "</a>"
    end = "</li>" if closed else ""
    return f'<li data-index="{idx}"><h3>{spec["position"]}</h3>{company}{h6}{end}'


def _ppl_item(rng: random.Random, spec: dict) -> str:
    sal = spec["salary"]
    parts = [
        f'<a data-test="link-offer-title" href="#">{spec["position"]}</a>',
        f'<h3 data-test="text-company-name">{spec["company"]}</h3>',
    ]
    if sal is not None:
        lo = _amount_text(rng, sal["lo"])
        cur, per = sal["cur"], sal["period"]
        if sal["hi"] is None:
            body = f"{lo} {cur} brutto / {per}"
        elif rng.random() < 0.5:
            # Nested salary spans: the field keeps text across inner closes.
            body = f"<span>{lo}</span>–<span>{_amount_text(rng, sal['hi'])}</span> {cur} / {per}"
        else:
            body = f"{lo}–{_amount_text(rng, sal['hi'])} {cur} brutto / {per}"
        parts.append(f'<span data-test="offer-salary">{body}</span>')
    return '<div data-test="default-offer">' + "".join(parts) + "</div>"


def _document(rng: random.Random, site: str, n_offers: int) -> tuple[str, list[tuple]]:
    specs = [_offer(rng) for _ in range(n_offers)]
    if site == "jjit":
        # One item per document is left unclosed; the next <li> closes it.
        open_at = rng.randrange(max(1, n_offers - 1))
        items = "".join(
            _jjit_item(rng, i, s, closed=(i != open_at or i == n_offers - 1))
            for i, (s, _) in enumerate(specs)
        )
        html = f"<html><body><ul>{items}</ul></body></html>"
    else:
        items = "".join(_ppl_item(rng, s) for s, _ in specs)
        html = f"<html><body><div data-test='section-offers'>{items}</div></body></html>"
    return html, [row for _, row in specs]


def make_offers_day(seed: int, day: dt.date, mean_offers: int) -> tuple[pa.Table, list[tuple]]:
    """One ingest day: a document per (site, region, experience) leaf and
    the staged rows (position, company_name, minimum, maximum, currency,
    pay_period) its offers must produce."""
    rng = random.Random(f"{seed}/{day.isoformat()}")
    leaves = [(s, r, e) for s in SITES for r in LEAF_REGIONS for e in EXPERIENCES]
    # Skewed (lognormal) offers per document, so parse tasks are uneven.
    # The weights are the distribution's quantiles, dealt to the leaves in
    # a seeded order: every seed has the same total and the same largest
    # document, so the seed moves content, not the cost of a day.
    n = len(leaves)
    w = [math.exp(NormalDist().inv_cdf((i + 0.5) / n)) for i in range(n)]
    rng.shuffle(w)
    scale = mean_offers * len(w) / sum(w)
    base_id = (day.toordinal() % 10_000) * 1_000
    cols: dict[str, list] = {c: [] for c in RAW_COLUMNS}
    expected: list[tuple] = []
    for i, ((site, region, exp), wi) in enumerate(zip(leaves, w)):
        html, staged = _document(rng, site, max(1, round(wi * scale)))
        for c, v in zip(RAW_COLUMNS, (base_id + i, site, region, exp, day, html)):
            cols[c].append(v)
        expected.extend(staged)
    types = (pa.int64(), pa.string(), pa.string(), pa.string(), pa.date32(), pa.string())
    table = pa.table({c: pa.array(cols[c], t) for c, t in zip(RAW_COLUMNS, types)})
    return table, expected


def write_offers_inputs(out_dir: str, seed: int, mean_offers: int) -> dict:
    """Older raw-zone days as a Hive-partitioned parquet dataset under
    ``<out_dir>/raw_zone`` and today's documents as
    ``<out_dir>/landing.parquet``. Returns the paths, today's date and
    the staged rows expected from today's documents."""
    import pyarrow.dataset as ds

    zone = os.path.join(out_dir, "raw_zone")
    part_cols = ("site", "region", "experience", "ingest_date")
    for back in range(OLDER_DAYS, 0, -1):
        day = INGEST_TODAY - dt.timedelta(days=back)
        table, _ = make_offers_day(seed, day, OLDER_MEAN_OFFERS)
        ds.write_dataset(
            table,
            zone,
            format="parquet",
            partitioning=ds.partitioning(
                pa.schema([table.schema.field(c) for c in part_cols]), flavor="hive"
            ),
            existing_data_behavior="overwrite_or_ignore",
            basename_template=f"day{back}-{{i}}.parquet",
        )
    landing, expected = make_offers_day(seed, INGEST_TODAY, mean_offers)
    landing_path = os.path.join(out_dir, "landing.parquet")
    pq.write_table(landing, landing_path)
    return {"zone": zone, "landing": landing_path, "today": INGEST_TODAY, "expected": expected}
