"""Seeded synthetic IRS-990 corpus for the `irs990_etl` workload.

Writes `filings/filing_NNNNN.xml` files in the IRS e-file namespace plus a
`manifest.txt` of relative URIs. Most filings are well-formed, some
pretty-printed and some compact; planted shares carry empty elements
(`<CityNm/>`, `<TotalRevenueAmt/>`), are malformed (truncated or not XML)
or are listed in the manifest but missing on disk. The generator returns
the expected outputs in closed form, from the structure it wrote rather
than by parsing: rows of `cities_count`, rows of `revenue_by_filing`, and
the ok/failed file and record counts of the ingest accumulators.

    python3 perfbench/gen_irs990.py <out_dir> --seed 7 --filings 2000
"""
import argparse
import json
import os
import random

NS = "http://www.irs.gov/efile"
CITIES = ["Berkeley", "Oakland", "Austin", "Boston", "Denver", "Chicago",
          "Seattle", "Portland", "Madison", "Atlanta", "Phoenix", "Tucson",
          "Omaha", "Dayton", "Fresno", "Reno", "Tampa", "Miami", "Albany",
          "Salem"]
STATES = ["CA", "TX", "MA", "CO", "IL", "WA", "OR", "WI", "GA", "AZ"]

EMPTY_SHARE = 0.05      # filings with an empty city or revenue element
MALFORMED_SHARE = 0.03  # truncated or non-XML files
MISSING_SHARE = 0.01    # manifest entries with no file behind them
COMPACT_SHARE = 0.4     # well-formed filings written without whitespace


def _element(tag, text=None, children=()):
    return (tag, text, list(children))


def _count(el):
    return 1 + sum(_count(c) for c in el[2])


def _render(el, pretty, depth=0):
    tag, text, children = el
    pad, nl = ("  " * depth, "\n") if pretty else ("", "")
    if not children:
        if text is None:
            return f"{pad}<{tag}/>{nl}"
        return f"{pad}<{tag}>{text}</{tag}>{nl}"
    inner = "".join(_render(c, pretty, depth + 1) for c in children)
    attr = f' xmlns="{NS}"' if depth == 0 else ""
    return f"{pad}<{tag}{attr}>{nl}{inner}{pad}</{tag}>{nl}"


def _filing(rng, i):
    """A filing tree plus the (city, revenue) values it carries, where an
    empty element is None."""
    city = rng.choice(CITIES)
    city = {0: city, 1: city.upper(), 2: city.lower()}[rng.randrange(3)]
    amounts = [rng.randrange(0, 50_000_000) for _ in range(rng.choice([1, 1, 2]))]
    empty = rng.random() < EMPTY_SHARE
    if empty and rng.random() < 0.5:
        city = None
    elif empty:
        amounts = [None]
    header = _element("ReturnHeader", children=[_element("Filer", children=[
        _element("EIN", f"{940000000 + i}"),
        _element("BusinessName", children=[
            _element("BusinessNameLine1Txt", f"NONPROFIT {i}")]),
        _element("USAddress", children=[
            _element("AddressLine1Txt", f"{rng.randrange(1, 999)} MAIN ST"),
            _element("CityNm", city),
            _element("StateAbbreviationCd", rng.choice(STATES)),
            _element("ZIPCd", f"{rng.randrange(10000, 99999)}")])])])
    data = _element("ReturnData", children=[_element("IRS990", children=[
        _element("GrossReceiptsAmt", str(rng.randrange(0, 90_000_000))),
        *[_element("TotalRevenueAmt", None if a is None else str(a))
          for a in amounts],
        _element("MissionDesc", "SERVE THE COMMUNITY")])])
    return _element("Return", children=[header, data]), city, amounts


def generate(out, seed, filings):
    """Writes the corpus under `out`; returns the expected outputs."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "filings"), exist_ok=True)
    uris, cities, revenue = [], {}, {}
    ok = failed = records = 0
    for i in range(filings):
        uri = f"filings/filing_{i:05d}.xml"
        uris.append(uri)
        roll = rng.random()
        if roll < MISSING_SHARE:
            failed += 1
            continue
        tree, city, amounts = _filing(rng, i)
        pretty = rng.random() >= COMPACT_SHARE
        body = '<?xml version="1.0"?>\n' + _render(tree, pretty)
        if roll < MISSING_SHARE + MALFORMED_SHARE:
            body = body[:len(body) // 2] if rng.random() < 0.5 else \
                "not xml: " + body[:40]
            failed += 1
        else:
            ok += 1
            records += _count(tree)
            key = "" if city is None else city.lower()
            cities[key] = cities.get(key, 0) + 1
            valid = [a for a in amounts if a is not None]
            revenue[uri] = sum(valid) if valid else None
        with open(os.path.join(out, uri), "w") as f:
            f.write(body)
    with open(os.path.join(out, "manifest.txt"), "w") as f:
        f.write("\n".join(uris) + "\n")
    return {"manifest": os.path.join(out, "manifest.txt"),
            "cities": cities, "revenue": revenue,
            "files_ok": ok, "files_failed": failed, "records": records}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--filings", type=int, default=2000)
    a = ap.parse_args()
    e = generate(a.out, a.seed, a.filings)
    print(json.dumps({k: e[k] for k in ("files_ok", "files_failed",
                                        "records")}))
