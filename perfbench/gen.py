"""Seeded input generators for the benchmark.

Every generator takes a `random.Random` (or a seed) and writes only under the
directory it is given; the same seed gives byte-identical files. Beside its
inputs each writes a ground-truth manifest computed here, apart from the
engine: rows per file, values scaled by powerOfTenMultiplier, local times
after the encoded DST rule, and which files the engine must skip.

The DST arithmetic below is plain calendar arithmetic on `datetime`; it does
not share code with the engine's rule decoder. Its semantics follow
SURVEY.md F6-F8 and FIXTURES.md: a rule names a month, an operator (fixed day,
n-th weekday, last weekday) and a wall-clock hour; the transition is that
naive date-time read as UTC; a reading shifts by dstOffset when its raw UTC
start lies strictly between the start and end transitions of its UTC year.
"""

import datetime as dt
import json
import os

import numpy as np

# ----------------------------------------------------------------- DST rules

SUNDAY = 6  # Python's weekday(): Monday=0 .. Sunday=6

# (name, month, operator, nth-or-None, hour); operator 7 = last weekday of
# the month, operators 2..6 = the (op-1)-th weekday, as in the GBA encoding.
DST_RULES = {
    "us": (("start", 3, 3, 2), ("end", 11, 2, 2)),   # 2nd Sun Mar, 1st Sun Nov
    "eu": (("start", 3, 7, 1), ("end", 10, 7, 1)),   # last Sun Mar, last Sun Oct
    "none": None,
}
NO_DST = 0xFFFFFFFF


def encode_rule(month, operator, hour):
    """GBA bit layout: seconds 0-11, hours 12-16, weekday 17-19, day 20-24,
    operator 25-27, month 28-31. The engine reads weekday bits b as the
    weekday (b+1) mod 7 counted from Monday=0, so Sunday (6) is b=5."""
    weekday_bits = 5
    day = 1
    return (month << 28) | (operator << 25) | (day << 20) | \
        (weekday_bits << 17) | (hour << 12)


def transition_epoch(year, month, operator, hour):
    """Naive local date-time of a transition, read as UTC seconds."""
    if operator == 7:
        nxt = dt.date(year + (month == 12), month % 12 + 1, 1)
        d = nxt - dt.timedelta(days=1)
        d -= dt.timedelta(days=(d.weekday() - SUNDAY) % 7)
    else:
        d = dt.date(year, month, 1)
        d += dt.timedelta(days=(SUNDAY - d.weekday()) % 7)
        d += dt.timedelta(days=7 * (operator - 2))
    t = dt.datetime(d.year, d.month, d.day, hour)
    return int((t - dt.datetime(1970, 1, 1)).total_seconds())


def rule_codes(rule):
    if DST_RULES[rule] is None:
        return NO_DST, NO_DST
    (_, m0, op0, h0), (_, m1, op1, h1) = DST_RULES[rule]
    return encode_rule(m0, op0, h0), encode_rule(m1, op1, h1)


def local_start(raw, rule, tz_offset, dst_offset):
    """Expected time_period_start_unix for a raw UTC start."""
    shift = 0
    if DST_RULES[rule] is not None:
        year = dt.datetime.fromtimestamp(raw, dt.timezone.utc).year
        (_, m0, op0, h0), (_, m1, op1, h1) = DST_RULES[rule]
        if transition_epoch(year, m0, op0, h0) < raw < \
                transition_epoch(year, m1, op1, h1):
            shift = dst_offset
    return raw + tz_offset + shift


# ------------------------------------------------------------ f32 arithmetic

POW10 = {0: np.float32(1.0), -3: np.float32(0.001)}


def scaled_value(raw, pow10):
    return float(np.float32(np.float32(raw) * POW10[pow10]))


def scaled_cost(raw):
    return float(np.float32(np.float32(raw) / np.float32(100000.0)))


QUALITY = {0: "valid", 8: "estimated using reference day", 17: "validated"}
FLOW = {1: "forward", 19: "reverse"}
CURRENCY = {124: "CAD", 840: "USD"}

# ------------------------------------------------------------ ESPI documents

NS = ('xmlns="http://www.w3.org/2005/Atom" '
      'xmlns:espi="http://naesb.org/espi"')
STAMP = "2025-04-01T08:00:00Z"


def _entry(content, title, href, related=()):
    links = [f'<link rel="self" href="{href}" type="espi-entry/x"/>']
    for h, typ in related:
        links.append(f'<link rel="related" href="{h}" type="{typ}"/>')
    return (f"<entry><content>{content}</content><title>{title}</title>"
            f"<published>{STAMP}</published><updated>{STAMP}</updated>"
            + "".join(links) + "</entry>\n")


def _reading_xml(start, dur, value, cost, quality, tou):
    parts = ["<espi:IntervalReading>"]
    if cost is not None:
        parts.append(f"<espi:cost>{cost}</espi:cost>")
    if quality is not None:
        parts.append(f"<espi:ReadingQuality>{quality}</espi:ReadingQuality>")
    parts.append(f"<espi:timePeriod><espi:duration>{dur}</espi:duration>"
                 f"<espi:start>{start}</espi:start></espi:timePeriod>")
    parts.append(f"<espi:value>{value}</espi:value>")
    if tou is not None:
        parts.append(f"<espi:tou>{tou}</espi:tou>")
    parts.append("</espi:IntervalReading>")
    return "".join(parts)


def espi_feed(rng, *, feed_id, starts, interval, rule, with_cost,
              with_quality_tou, pow10=0, usage_summaries=0, defect=None,
              meters=(1, 19), tz=None):
    """One ESPI feed with one IntervalBlock per meter reading, each holding
    a reading of `interval` seconds at every raw UTC start in `starts`.

    Returns (xml text, expected rows in document order). Each expected row is
    (title, local_start, value, cost, quality, tou, duration, flow, currency);
    cost is NaN where the reading has none. `defect` is None, "truncated",
    "missing_ltp" or "dangling_rt"; a defective feed's rows are still
    returned, but the manifest lists the file as skipped.
    """
    base = f"https://utility.example/espi/1_1/resource/Subscription/s{feed_id}"
    if tz is None:
        tz = rng.choice([-18000, -21600, 3600, 0])
    dst = 3600
    start_rule, end_rule = rule_codes(rule)
    out = [f'<?xml version="1.0" encoding="UTF-8"?>\n<feed {NS}>\n'
           f"<id>urn:uuid:feed-{feed_id}</id><title>Feed {feed_id}</title>\n"]
    if defect != "missing_ltp":
        out.append(_entry(
            "<espi:LocalTimeParameters>"
            f"<espi:dstEndRule>{end_rule:08X}</espi:dstEndRule>"
            f"<espi:dstOffset>{dst}</espi:dstOffset>"
            f"<espi:dstStartRule>{start_rule:08X}</espi:dstStartRule>"
            f"<espi:tzOffset>{tz}</espi:tzOffset>"
            "</espi:LocalTimeParameters>",
            "DST", f"{base}/LocalTimeParameters/1"))
    out.append(_entry("<espi:UsagePoint><espi:ServiceCategory><espi:kind>0"
                      "</espi:kind></espi:ServiceCategory></espi:UsagePoint>",
                      "Usage Point", f"{base}/UsagePoint/UP1"))
    rows = []
    currency = rng.choice([124, 840])
    for m, flow in enumerate(meters):
        mr = f"{base}/UsagePoint/UP1/MeterReading/MR{m}"
        rt = f"https://utility.example/espi/1_1/resource/ReadingType/RT{feed_id}_{m}"
        link = rt + ("x" if defect == "dangling_rt" and m == 0 else "")
        out.append(_entry("<espi:MeterReading/>", f"Meter {m}", mr,
                          [(link, "espi-entry/ReadingType")]))
        out.append(_entry(
            "<espi:ReadingType>"
            "<espi:accumulationBehaviour>4</espi:accumulationBehaviour>"
            "<espi:commodity>1</espi:commodity>"
            f"<espi:currency>{currency}</espi:currency>"
            "<espi:dataQualifier>12</espi:dataQualifier>"
            f"<espi:flowDirection>{flow}</espi:flowDirection>"
            f"<espi:intervalLength>{interval}</espi:intervalLength>"
            "<espi:kind>12</espi:kind>"
            f"<espi:powerOfTenMultiplier>{pow10}</espi:powerOfTenMultiplier>"
            "<espi:uom>72</espi:uom>"
            "</espi:ReadingType>", "Reading Type", rt))
        title = f"Feed {feed_id} {FLOW[flow]} {interval // 60}min"
        readings = []
        for raw_start in starts:
            value = rng.randrange(0, 5000) if flow == 1 else rng.randrange(0, 800)
            cost = rng.randrange(0, 90000) if with_cost else None
            quality = rng.choice([0, 8, 17]) if with_quality_tou else None
            tou = rng.randrange(1, 4) if with_quality_tou else None
            readings.append(_reading_xml(raw_start, interval, value, cost,
                                         quality, tou))
            rows.append((title, local_start(raw_start, rule, tz, dst),
                         scaled_value(value, pow10),
                         scaled_cost(cost) if cost is not None else float("nan"),
                         QUALITY.get(quality, "other"),
                         tou if tou is not None else 0, interval, FLOW[flow],
                         CURRENCY[currency]))
        block = (f"<espi:IntervalBlock><espi:interval><espi:duration>"
                 f"{starts[-1] + interval - starts[0]}</espi:duration>"
                 f"<espi:start>{starts[0]}</espi:start></espi:interval>"
                 + "".join(readings) +
                 "</espi:IntervalBlock>")
        out.append(_entry(block, title, f"{mr}/IntervalBlock/IB{m}"))
    for u in range(usage_summaries):
        out.append(_entry("<espi:UsageSummary><espi:billLastPeriod>"
                          f"{rng.randrange(1000, 99999)}</espi:billLastPeriod>"
                          "</espi:UsageSummary>", f"Summary {u}",
                          f"{base}/UsagePoint/UP1/UsageSummary/{u}"))
    out.append("</feed>\n")
    text = "".join(out)
    if defect == "truncated":
        text = text[: len(text) * 2 // 3]
    return text, rows


def _transition_starts(rng, rule, interval, n):
    """n raw starts, `interval` apart, with a DST transition inside their
    span when the rule has one, so readings fall on both sides of it."""
    year = rng.choice([2023, 2024, 2025])
    if DST_RULES[rule] is None:
        anchor = transition_epoch(year, 3, 3, 2)
    else:
        (_, m, op, h) = DST_RULES[rule][rng.randrange(2)]
        anchor = transition_epoch(year, m, op, h)
    back = rng.randrange(1, max(2, n - 1)) * interval
    first = (anchor - back) // interval * interval
    return [first + i * interval for i in range(n)]


def write_corpus(directory, feeds):
    """Write feeds (name, xml, rows, skip) and the manifest. Files are named
    so that lexical path order is the generation order."""
    os.makedirs(directory, exist_ok=True)
    manifest = {"files": [], "readings": 0, "has_cost": False}
    for name, xml, rows, skip in feeds:
        with open(os.path.join(directory, name), "w", encoding="utf-8",
                  newline="\n") as f:
            f.write(xml)
        manifest["files"].append({"name": name, "rows": len(rows),
                                  "skip": skip})
        if not skip:
            manifest["readings"] += len(rows)
            manifest["has_cost"] |= any(r[3] == r[3] and r[3] != 0.0
                                        for r in rows)
    with open(os.path.join(directory, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    with open(os.path.join(directory, "expected.tsv"), "w") as f:
        for (name, _, rows, skip) in feeds:
            if skip:
                continue
            for seq, r in enumerate(rows):
                f.write("\t".join([name, str(seq), r[0], str(r[1]),
                                   repr(r[2]), repr(r[3]), r[4], str(r[5]),
                                   str(r[6]), r[7], r[8]]) + "\n")
    return manifest


def bulk_feeds(rng, n_feeds, n_per_meter, n_bad=1):
    """Large interval feeds: hourly or 15-minute readings, two meter readings
    per feed, cost/quality/tou on some feeds, DST rules of three kinds. The
    make-up is fixed by position, so every seed gives the same sizes."""
    feeds = []
    bad = set(rng.sample(range(n_feeds), n_bad))
    for i in range(n_feeds):
        interval = 900 if i % 2 else 3600
        rule = ("us", "eu", "none")[i % 3]
        defect = "dangling_rt" if i in bad else None
        xml, rows = espi_feed(
            rng, feed_id=i, interval=interval,
            starts=_transition_starts(rng, rule, interval, n_per_meter),
            rule=rule, with_cost=i % 4 != 3, with_quality_tou=i % 2 == 0,
            pow10=(0, -3)[i % 2], defect=defect)
        feeds.append((f"feed_{i:04d}.xml", xml, rows, defect is not None))
    return feeds


DEFECTS = ("truncated", "missing_ltp", "dangling_rt")


def delivery_feeds(rng, delivery, size, n_bad):
    """Small feeds for one delivery: monthly billing feeds (cost and
    UsageSummary entries) alternating with daily hourly feeds (no cost).
    `n_bad` feeds are malformed, cycling through the three defect kinds."""
    feeds = []
    bad = dict(zip(rng.sample(range(size), n_bad),
                   [DEFECTS[k % 3] for k in range(n_bad)]))
    for i in range(size):
        defect = bad.get(i)
        fid = delivery * 1000 + i
        if i % 2 == 0:
            year = rng.choice([2023, 2024])
            start = int((dt.datetime(year, 1, 1) -
                         dt.datetime(1970, 1, 1)).total_seconds())
            xml, rows = espi_feed(
                rng, feed_id=fid, interval=2678400,
                starts=[start + m * 2678400 for m in range(12)],
                rule=rng.choice(["us", "eu"]), with_cost=True,
                with_quality_tou=False, pow10=-3, usage_summaries=3,
                defect=defect, meters=(1,))
        else:
            rule = rng.choice(["us", "eu", "none"])
            xml, rows = espi_feed(
                rng, feed_id=fid, interval=3600,
                starts=_transition_starts(rng, rule, 3600, 24), rule=rule,
                with_cost=False, with_quality_tou=True, defect=defect)
        feeds.append((f"feed_{i:04d}.xml", xml, rows, defect is not None))
    return feeds


# ---------------------------------------------------------------- embeddings

def embeddings(seed, n_base, dim, cells, rounds, fold, forget, queries):
    """Clustered vectors: `cells` Gaussian centres, points = centre + noise.
    Returns the base set, per-round fold batches and forget id lists (ids
    drawn from what is live at that round), and the query set."""
    g = np.random.default_rng(seed)
    centres = g.normal(size=(cells, dim)).astype(np.float32)

    def draw(n):
        c = g.integers(0, cells, size=n)
        return (centres[c] + 0.35 * g.normal(size=(n, dim))).astype(np.float32)

    base = draw(n_base)
    live = list(range(n_base))
    next_id = n_base
    plan = []
    for _ in range(rounds):
        ids = np.arange(next_id, next_id + fold, dtype=np.int64)
        vecs = draw(fold)
        next_id += fold
        live.extend(ids.tolist())
        pick = g.choice(len(live), size=forget, replace=False)
        gone = sorted(live[i] for i in pick)
        gone_set = set(gone)
        live = [v for v in live if v not in gone_set]
        plan.append((ids, vecs, np.array(gone, dtype=np.int64)))
    q = draw(queries)
    return base, plan, q


def write_vectors_parquet(path, ids, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    arr = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)),
                                            vecs.shape[1])
    table = pa.table({"vec_id": pa.array(ids, pa.int64()),
                      "embedding": arr.cast(pa.list_(pa.float32()))})
    pq.write_table(table, path, compression="none")


def write_ids_parquet(path, ids):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64())}), path,
                   compression="none")
