"""Seeded EDGAR corpus for the ``edgar_etl`` workload.

Writes, from one integer seed and nothing else:

- eight quarterly ``master.idx`` files (2022Q1..2023Q4) with the
  reference's banner, Zipf-skewed CIKs and a fixed form mix;
- one daily ``master.YYYYMMDD.idx`` for the first business day after
  them (the incremental mirror upsert);
- SGML ``.txt`` containers for a sample of the Form 4 rows, each with
  one Form 4 ``ownershipDocument`` plus 0-3 exhibits whose sizes are
  Pareto-distributed (one in ten exhibits is uuencoded);
- ``truth.json``: the expected output of every pipeline step (rows and
  a digest per ``filings()`` spec, documents per filing, Form 4
  transactions), so outputs are checked with no network.

The same seed gives byte-identical files; the generator uses only
``random.Random(seed)`` and writes in a fixed order.

The traffic shape is illustrative, not measured: the form-type weights
in ``FORMS``, the Zipf exponent over the CIKs (``CIK_ZIPF`` over
``N_CIK``), the Pareto exhibit sizes (``EXHIBIT_*``), the exhibit count
and the uuencoded share were chosen by hand, with no EDGAR full-index
counts behind them.  They are the knobs that set ``filings()``
selectivity (the form weights), per-CIK skew for the ``count`` spec and
the shuffle (the Zipf exponent) and parse cost (the exhibit sizes), so a
result on this corpus speaks for this shape only.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from decimal import Decimal

QUARTERS = [(y, q) for y in (2022, 2023) for q in (1, 2, 3, 4)]
NEW_DAY = dt.date(2024, 1, 2)

# Illustrative form-type weights (relative); "4" is the only type with
# containers, so its weight sets how many Form 4 rows there are to sample.
FORMS = [
    ("4", 34), ("8-K", 14), ("10-Q", 9), ("SC 13G/A", 8), ("424B2", 7),
    ("D", 6), ("3", 5), ("10-K", 4), ("13F-HR", 4), ("6-K", 3),
    ("S-8", 2), ("10-K/A", 2), ("SC 13G", 2),
]
N_CIK, CIK_ZIPF = 1_000, 1.1  # filers, and the Zipf exponent of rows per filer
# Exhibit sizes: Pareto(alpha) times the scale, capped; 0-3 exhibits per
# container, one in ten uuencoded.
EXHIBIT_ALPHA, EXHIBIT_SCALE, EXHIBIT_CAP = 1.5, 1_500, 120_000
UUENCODED_SHARE = 0.1

# The four filings() specs the workload runs, as keyword arguments.
SPECS = {
    "form_10k": {"filing_type": "10-K"},
    "date_range": {"start_date": "2022-04-01", "end_date": "2022-09-30"},
    "top3_per_cik": {"count": 3},
    "form4_2023_top5": {
        "filing_type": "4",
        "start_date": "2023-01-01",
        "end_date": "2023-12-31",
        "count": 5,
    },
}

_WORDS = (
    "power of attorney the undersigned hereby constitutes and appoints "
    "each of officer director trust agreement exhibit registrant shares "
    "common stock transaction reported issuer holding beneficial owner "
    "securities exchange act section filed pursuant signature date"
).split()
_SUFFIXES = ["INC", "CORP", "LLC", "HOLDINGS INC", "TRUST", "LP", "& CO", "GROUP, INC."]
_NAMES = [
    "ACME", "NORTHWIND", "CONTOSO", "GLOBEX", "INITECH", "UMBRELLA", "STARK",
    "WAYNE", "TYRELL", "CYBERDYNE", "SOYLENT", "HOOLI", "VANDELAY", "MASSIVE",
]


def _banner(received: str) -> list[str]:
    return [
        "Description:           Master Index of EDGAR Dissemination Feed",
        f"Last Data Received:    {received}",
        "Comments:              webmaster@sec.gov",
        "Anonymous FTP:         ftp://ftp.sec.gov/edgar/",
        "Cloud HTTP:            https://www.sec.gov/Archives/",
        "",
        "",
        "",
        "",
        "CIK|Company Name|Form Type|Date Filed|Filename",
        "-" * 80,
    ]


def _quarter_days(year: int, q: int) -> list[dt.date]:
    d = dt.date(year, 3 * q - 2, 1)
    end = dt.date(year + (q == 4), 1 if q == 4 else 3 * q + 1, 1)
    days = []
    while d < end:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _text(rng: random.Random, n_bytes: int) -> str:
    lines, size = [], 0
    while size < n_bytes:
        line = " ".join(rng.choice(_WORDS) for _ in range(12))
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines)


def _uuencoded(rng: random.Random, n_bytes: int, name: str) -> str:
    import binascii

    raw = bytes(rng.getrandbits(8) for _ in range(n_bytes))
    body = [binascii.b2a_uu(raw[i : i + 45]).decode().rstrip("\n") for i in range(0, len(raw), 45)]
    return "\n".join([f"begin 644 {name}", *body, "`", "end"])


def _form4_xml(rng: random.Random, cik: int, name: str, day: dt.date) -> tuple[str, list[dict]]:
    n_tx = min(int(rng.paretovariate(1.5)), 8)
    txs, parts = [], []
    for i in range(n_tx):
        shares = Decimal(rng.randrange(1, 500_000)) / 100
        price = Decimal(rng.randrange(0, 50_000)) / 100
        after = shares * rng.randrange(1, 50)
        tx = {
            "date": (day - dt.timedelta(days=rng.randrange(0, 3))).isoformat(),
            "code": rng.choice("SPAMGF"),
            "swap": rng.random() < 0.1,
            "shares": str(shares),
            "price": str(price),
            "ad": rng.choice("AD"),
            "after": str(after),
            "di": rng.choice("DI"),
        }
        txs.append(tx)
        parts.append(
            f"""        <nonDerivativeTransaction>
            <securityTitle><value>Common Stock</value></securityTitle>
            <transactionDate><value>{tx['date']}</value></transactionDate>
            <transactionCoding>
                <transactionFormType>4</transactionFormType>
                <transactionCode>{tx['code']}</transactionCode>
                <equitySwapInvolved>{int(tx['swap'])}</equitySwapInvolved>
            </transactionCoding>
            <transactionAmounts>
                <transactionShares><value>{tx['shares']}</value></transactionShares>
                <transactionPricePerShare><value>{tx['price']}</value></transactionPricePerShare>
                <transactionAcquiredDisposedCode><value>{tx['ad']}</value></transactionAcquiredDisposedCode>
            </transactionAmounts>
            <postTransactionAmounts>
                <sharesOwnedFollowingTransaction><value>{tx['after']}</value></sharesOwnedFollowingTransaction>
            </postTransactionAmounts>
            <ownershipNature>
                <directOrIndirectOwnership><value>{tx['di']}</value></directOrIndirectOwnership>
            </ownershipNature>
        </nonDerivativeTransaction>"""
        )
    xml = "\n".join(
        [
            '<?xml version="1.0"?>',
            "<ownershipDocument>",
            "    <schemaVersion>X0306</schemaVersion>",
            "    <documentType>4</documentType>",
            f"    <periodOfReport>{day.isoformat()}</periodOfReport>",
            "    <issuer>",
            f"        <issuerCik>{cik:010d}</issuerCik>",
            f"        <issuerName>{name.replace('&', 'and')}</issuerName>",
            "        <issuerTradingSymbol>TCKR</issuerTradingSymbol>",
            "    </issuer>",
            "    <nonDerivativeTable>",
            *parts,
            "    </nonDerivativeTable>",
            "</ownershipDocument>",
        ]
    )
    return xml, txs


def _container(rng: random.Random, row: dict) -> tuple[str, dict]:
    acc, day = row["accession"], row["date"]
    ymd = day.strftime("%Y%m%d")
    xml, txs = _form4_xml(rng, row["cik"], row["name"], day)
    docs = [("4", "form4.xml", "PRIMARY DOCUMENT", "<XML>\n" + xml + "\n</XML>")]
    for k in range(rng.choice((0, 1, 1, 2, 3))):
        size = int(min(EXHIBIT_SCALE * rng.paretovariate(EXHIBIT_ALPHA), EXHIBIT_CAP))
        if rng.random() < UUENCODED_SHARE:
            docs.append(("GRAPHIC", f"img{k}.jpg", "", _uuencoded(rng, size // 4, f"img{k}.jpg")))
        else:
            docs.append((f"EX-{24 + k}", f"ex{24 + k}.txt", "EXHIBIT", _text(rng, size)))
    owner_cik = rng.randrange(1_000_000, 2_000_000)
    lines = [
        f"<SEC-DOCUMENT>{acc}.txt : {ymd}",
        f"<SEC-HEADER>{acc}.hdr.sgml : {ymd}",
        f"<ACCEPTANCE-DATETIME>{ymd}160512",
        f"ACCESSION NUMBER:\t\t{acc}",
        "CONFORMED SUBMISSION TYPE:\t4",
        f"PUBLIC DOCUMENT COUNT:\t\t{len(docs)}",
        f"CONFORMED PERIOD OF REPORT:\t{ymd}",
        f"FILED AS OF DATE:\t\t{ymd}",
        "",
        "REPORTING-OWNER:\t",
        "",
        "\tOWNER DATA:\t",
        f"\t\tCOMPANY CONFORMED NAME:\t\t\tOWNER {owner_cik}",
        f"\t\tCENTRAL INDEX KEY:\t\t\t{owner_cik:010d}",
        "",
        "ISSUER:\t\t",
        "",
        "\tCOMPANY DATA:\t",
        f"\t\tCOMPANY CONFORMED NAME:\t\t\t{row['name']}",
        f"\t\tCENTRAL INDEX KEY:\t\t\t{row['cik']:010d}",
        "</SEC-HEADER>",
    ]
    for seq, (typ, fname, desc, text) in enumerate(docs, start=1):
        lines += ["<DOCUMENT>", f"<TYPE>{typ}", f"<SEQUENCE>{seq}", f"<FILENAME>{fname}"]
        if desc:
            lines.append(f"<DESCRIPTION>{desc}")
        lines += ["<TEXT>", text, "</TEXT>", "</DOCUMENT>"]
    lines.append("</SEC-DOCUMENT>")
    truth = {
        "accession": acc,
        "documents": len(docs),
        "uuencoded": sum(1 for d in docs if d[0] == "GRAPHIC"),
        "transactions": len(txs),
        "shares": str(sum(Decimal(t["shares"]) for t in txs)),
    }
    return "\n".join(lines) + "\n", truth


def _spec_rows(rows: list[dict], spec: dict) -> dict[int, list[str]]:
    """Pure-Python twin of ``filings()`` + ``grouped_urls``: cik -> the
    accessions it returns, ordered by (date_filed, line_no)."""
    keep = rows
    if "filing_type" in spec:
        keep = [r for r in keep if r["form"] == spec["filing_type"]]
    if "start_date" in spec:
        lo = dt.date.fromisoformat(spec["start_date"])
        hi = dt.date.fromisoformat(spec["end_date"])
        keep = [r for r in keep if lo <= r["date"] <= hi]
    by_cik: dict[int, list[dict]] = {}
    for r in keep:
        by_cik.setdefault(r["cik"], []).append(r)
    out = {}
    for cik, rs in by_cik.items():
        if "count" in spec:
            rs = sorted(rs, key=lambda r: (-r["date"].toordinal(), r["line_no"]))[: spec["count"]]
        rs = sorted(rs, key=lambda r: (r["date"], r["line_no"]))
        out[cik] = [r["accession"] for r in rs]
    return out


def spec_digest(grouped: dict[int, list[str]]) -> str:
    """Order-sensitive digest of one grouped_urls result (cik -> accessions)."""
    h = hashlib.sha1()
    for cik in sorted(grouped):
        h.update(f"{cik}:{','.join(grouped[cik])}\n".encode())
    return h.hexdigest()


def generate(out: str, seed: int, rows_per_quarter: int = 3_000, containers: int = 64) -> dict:
    """Write the corpus under ``out`` and return the ground truth."""
    rng = random.Random(seed)
    ciks = rng.sample(range(1_000, 2_000_000), N_CIK)
    names = {
        c: f"{rng.choice(_NAMES)} {rng.choice(_NAMES)} {i} {rng.choice(_SUFFIXES)}"
        for i, c in enumerate(ciks)
    }
    cum_w, acc = [], 0.0
    for i in range(N_CIK):
        acc += 1.0 / (i + 1) ** CIK_ZIPF
        cum_w.append(acc)
    form_names = [f for f, _ in FORMS]
    form_cum = []
    acc = 0.0
    for _, w in FORMS:
        acc += w
        form_cum.append(acc)

    idx_dir = os.path.join(out, "full-index")
    rows: list[dict] = []
    seq = 0
    paths = []
    for year, q in QUARTERS:
        days = _quarter_days(year, q)
        qrows = []
        for _ in range(rows_per_quarter):
            cik = rng.choices(ciks, cum_weights=cum_w)[0]
            seq += 1
            qrows.append(
                {
                    "cik": cik,
                    "name": names[cik],
                    "form": rng.choices(form_names, cum_weights=form_cum)[0],
                    "date": rng.choice(days),
                    "accession": f"{cik:010d}-{year % 100:02d}-{seq:06d}",
                }
            )
        qrows.sort(key=lambda r: (r["date"], r["cik"], r["accession"]))
        lines = _banner(f"{days[-1]:%B %d, %Y}")
        for i, r in enumerate(qrows, start=1):
            r["line_no"] = i
            lines.append(
                f"{r['cik']}|{r['name']}|{r['form']}|{r['date'].isoformat()}|"
                f"edgar/data/{r['cik']}/{r['accession']}.txt"
            )
        path = os.path.join(idx_dir, str(year), f"QTR{q}", "master.idx")
        _write(path, "\n".join(lines) + "\n")
        paths.append(path)
        rows.extend(qrows)

    new_day_rows = rows_per_quarter // 60
    daily = _banner(f"{NEW_DAY:%B %d, %Y}")
    for _ in range(new_day_rows):
        cik = rng.choices(ciks, cum_weights=cum_w)[0]
        seq += 1
        form = rng.choices(form_names, cum_weights=form_cum)[0]
        daily.append(f"{cik}|{names[cik]}|{form}|{NEW_DAY:%Y%m%d}|edgar/data/{cik}/{cik:010d}-24-{seq:06d}.txt")
    daily_path = os.path.join(out, "daily-index", f"master.{NEW_DAY:%Y%m%d}.idx")
    _write(daily_path, "\n".join(daily) + "\n")

    form4 = [r for r in rows if r["form"] == "4"]
    chosen = sorted(rng.sample(form4, min(containers, len(form4))), key=lambda r: r["accession"])
    filings_truth, total_bytes = [], 0
    for r in chosen:
        text, t = _container(rng, r)
        _write(os.path.join(out, "filings", str(r["cik"]), f"{r['accession']}.txt"), text)
        total_bytes += len(text.encode())
        filings_truth.append(t)

    specs = {}
    for name, spec in SPECS.items():
        grouped = _spec_rows(rows, spec)
        specs[name] = {
            "ciks": len(grouped),
            "rows": sum(len(v) for v in grouped.values()),
            "digest": spec_digest(grouped),
        }
    truth = {
        "seed": seed,
        "index_files": [os.path.relpath(p, out) for p in paths],
        "daily_file": os.path.relpath(daily_path, out),
        "index_rows": len(rows),
        "new_day_rows": new_day_rows,
        "specs": specs,
        "filings": filings_truth,
        "filing_count": len(filings_truth),
        "filing_bytes": total_bytes,
        "documents": sum(f["documents"] for f in filings_truth),
        "transactions": sum(f["transactions"] for f in filings_truth),
        "shares": str(sum(Decimal(f["shares"]) for f in filings_truth)),
    }
    _write(os.path.join(out, "truth.json"), json.dumps(truth, indent=1, sort_keys=True) + "\n")
    return truth


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii", newline="\n") as fh:
        fh.write(text)

