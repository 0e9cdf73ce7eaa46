"""Output checks, computed apart from the engine.

GB outputs are read back with readers other than the engine's own (duckdb
for CSV, pyarrow for Parquet, plain text for line protocol) and compared with
the generator's expected rows. ANN serve results are compared with an exact
kNN over the live set that this module computes with numpy. Each check
returns a list of problems; an empty list means the output is correct.
"""

import collections
import functools
import glob
import os
import re

import numpy as np

COLUMNS = ["title", "cost", "quality", "value", "tou",
           "time_period_start_unix", "time_period_duration_seconds",
           "accumulation_behaviour", "commodity", "currency",
           "data_qualifier", "flow_direction", "kind", "phase", "uom"]
FIXED = {"accumulation_behaviour": "deltaData",
         "commodity": "electricity SecondaryMetered",
         "data_qualifier": "normal", "kind": "energy", "phase": "none",
         "uom": "Wh"}


NAN_BITS = 0x7FC00000


def f32_bits(a):
    """f32 bit patterns of an array, every NaN mapped to one pattern."""
    a = np.asarray(a, dtype=np.float32)
    b = a.view(np.uint32).copy()
    b[np.isnan(a)] = NAN_BITS
    return b


@functools.lru_cache(maxsize=1 << 18)
def shortest(x):
    """Shortest round-trip decimal of an f32, plain notation."""
    if x != x:
        return "NaN"
    return np.format_float_positional(np.float32(x), unique=True, trim="-")


def not_shortest(strings):
    """The distinct strings that are not the shortest form of their f32."""
    return [s for s in np.unique(strings)
            if s != shortest(float(np.float32(float(s))))]


def expected_table(feeds):
    """Expected output columns in the CLI's file-then-document order, from
    (name, xml, rows, skip) feeds; skipped files contribute nothing."""
    rows = [r for name, _, rs, skip in sorted(feeds, key=lambda f: f[0])
            if not skip for r in rs]
    cols = list(zip(*rows)) if rows else [()] * 9
    n = len(rows)
    t = {"title": np.array(cols[0], dtype=object),
         "time_period_start_unix": np.array(cols[1], dtype=np.int64),
         "value": np.array(cols[2], dtype=np.float32),
         "cost": np.array(cols[3], dtype=np.float32),
         "quality": np.array(cols[4], dtype=object),
         "tou": np.array(cols[5], dtype=np.int64),
         "time_period_duration_seconds": np.array(cols[6], dtype=np.int64),
         "flow_direction": np.array(cols[7], dtype=object),
         "currency": np.array(cols[8], dtype=object)}
    for c, v in FIXED.items():
        t[c] = np.full(n, v, dtype=object)
    return t


def _keys(t, vocab):
    return np.rec.fromarrays([
        np.searchsorted(vocab, t["title"].astype(str)),
        t["time_period_start_unix"], f32_bits(t["value"]),
        f32_bits(t["cost"])])


def compare(got, want, what, ordered=True):
    """The multiset of (title, start, value, cost) first, then the row
    order, then every other field. Returns (problems, share of expected
    rows reproduced)."""
    vocab = np.unique(np.concatenate([got["title"], want["title"]]).astype(str))
    gk, wk = _keys(got, vocab), _keys(want, vocab)
    problems = []
    if len(gk) != len(wk):
        problems.append(f"{what}: {len(gk)} rows, expected {len(wk)}")
    if len(gk) != len(wk) or not (np.sort(gk) == np.sort(wk)).all():
        g = collections.Counter(map(tuple, gk.tolist()))
        w = collections.Counter(map(tuple, wk.tolist()))
        share = sum((g & w).values()) / max(1, len(wk))
        def show(ks):
            return [(vocab[k[0]], k[1], k[2], k[3]) for k in ks[:3]]
        problems.append(f"{what}: rows differ; unexpected "
                        f"{show(list((g - w).elements()))}, missing "
                        f"{show(list((w - g).elements()))}")
        return problems, share
    if ordered:
        gi, wi = np.arange(len(gk)), np.arange(len(wk))
        off = np.nonzero(gk != wk)[0]
        if len(off):
            problems.append(f"{what}: row {off[0]} out of order")
    else:
        gi, wi = np.argsort(gk, kind="stable"), np.argsort(wk, kind="stable")
    for c in COLUMNS:
        if c not in got or c not in want:
            continue
        a, b = got[c][gi], want[c][wi]
        if c in ("value", "cost"):
            a, b = f32_bits(a), f32_bits(b)
        bad = np.nonzero(a != b)[0]
        if len(bad):
            problems.append(f"{what}: field {c} differs at row {bad[0]}: "
                            f"{a[bad[0]]!r} vs {b[bad[0]]!r}")
    return problems, 1.0


# ------------------------------------------------------------------- readers

def read_csv(path):
    import duckdb
    files = sorted(glob.glob(os.path.join(path, "*.csv")))
    if len(files) != 1:
        return None, [f"csv: expected one part file, found {len(files)}"]
    con = duckdb.connect()
    cur = con.execute("SELECT * FROM read_csv(?, header=true, all_varchar=true,"
                      " quote='\"', escape='\"')", [files[0]])
    header = [d[0] for d in cur.description]
    if header != COLUMNS:
        return None, [f"csv: header {header}"]
    raw = cur.fetchnumpy()
    t = {c: np.asarray(raw[c], dtype=object) for c in COLUMNS}
    problems = [f"csv: {c} {s!r} is not the shortest round-trip form"
                for c in ("value", "cost") for s in not_shortest(t[c])[:2]]
    for c in ("value", "cost"):
        t[c] = t[c].astype(np.float64).astype(np.float32)
    for c in ("tou", "time_period_start_unix", "time_period_duration_seconds"):
        t[c] = t[c].astype(np.int64)
    return t, problems


def read_parquet(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if len(files) != 1:
        return None, [f"parquet: expected one part file, found {len(files)}"]
    schema = pq.read_schema(files[0])
    problems = []
    if schema.names != COLUMNS:
        return None, [f"parquet: columns {schema.names}"]
    problems += [f"parquet: column {f.name} is not REQUIRED"
                 for f in schema if f.nullable]
    ts = schema.field("time_period_start_unix").type
    if not (pa.types.is_timestamp(ts) and ts.unit == "ms"):
        problems.append(f"parquet: time_period_start_unix is {ts}, "
                        "not millisecond timestamps")
    table = pq.read_table(files[0])
    t = {c: table.column(c).to_numpy(zero_copy_only=False) for c in COLUMNS
         if c != "time_period_start_unix"}
    ms = table.column("time_period_start_unix").cast(pa.int64()).to_numpy()
    if (ms % 1000).any():
        problems.append("parquet: start times are not whole seconds")
    t["time_period_start_unix"] = ms // 1000
    for c in ("title", "quality") + tuple(FIXED) + ("currency", "flow_direction"):
        t[c] = t[c].astype(object)
    return t, problems


UNESCAPED_SPACE = re.compile(r"(?<!\\) ")
UNESCAPED_COMMA = re.compile(r"(?<!\\),")


def measurement(title):
    return "".join(ch for ch in title.replace(" ", "_")
                   if ch.isascii() and (ch.isalnum() or ch == "_"))


def read_influx(path, has_cost, titles):
    """Line protocol back into columns: measurement names map back to
    titles, ns to seconds; a missing cost field reads as NaN."""
    lines = []
    for f in sorted(glob.glob(os.path.join(path, "**", "part-*"),
                              recursive=True)):
        with open(f) as fh:
            lines.extend(l.rstrip("\n") for l in fh if l.strip())
    by_m = {measurement(t): t for t in titles}
    cols = collections.defaultdict(list)
    problems = []
    for l in lines:
        head, fields, time_ns = UNESCAPED_SPACE.split(l)
        f = dict(kv.split("=", 1) for kv in UNESCAPED_COMMA.split(fields))
        if ("cost" in f) != has_cost and len(problems) < 3:
            problems.append(f"influx: cost field "
                            f"{'missing' if has_cost else 'present'} in {l[:60]!r}")
        m = head.split(",", 1)[0]
        cols["title"].append(by_m.get(m, m))
        cols["value_s"].append(f["value"])
        cols["cost"].append(f.get("cost", "NaN"))
        cols["quality"].append(f["quality"].replace("\\ ", " "))
        cols["tou"].append(int(f["tou"]))
        cols["time_period_duration_seconds"].append(
            int(f["time_period_duration_seconds"]))
        cols["time_period_start_unix"].append(int(time_ns) // 10**9)
    t = {c: np.array(v, dtype=object) for c, v in cols.items()}
    problems += [f"influx: value {s!r} is not the shortest round-trip form"
                 for s in not_shortest(t.get("value_s", []))[:2]]
    t["value"] = np.array(cols["value_s"], dtype=np.float64).astype(np.float32)
    t["cost"] = np.array(cols["cost"], dtype=np.float64).astype(np.float32)
    for c in ("tou", "time_period_duration_seconds", "time_period_start_unix"):
        t[c] = np.array(cols[c], dtype=np.int64)
    t.pop("value_s", None)
    return t, problems


def without_cost(t):
    return {**t, "cost": np.full(len(t["cost"]), np.nan, dtype=np.float32)}


# ---------------------------------------------------------------- GB checks

def check_bulk(out_dir, feeds, has_cost, formats):
    """The CLI outputs of one corpus, in file-then-document order."""
    want = expected_table(feeds)
    problems, shares = [], []
    for fmt in formats:
        path = os.path.join(out_dir, fmt)
        if fmt == "csv":
            got, p = read_csv(path)
        elif fmt == "parquet":
            got, p = read_parquet(path)
        else:
            got, p = read_influx(path, has_cost, set(want["title"]))
        problems += p
        if got is None:
            shares.append(0.0)
            continue
        w = want if fmt != "influxdb" or has_cost else without_cost(want)
        p, s = compare(got, w, fmt)
        problems += p
        shares.append(s)
    return problems, min(shares)


def check_delivery(out_dir, feeds, has_cost):
    """One delivery's increment: line protocol, order-free."""
    want = expected_table(feeds)
    got, problems = read_influx(out_dir, has_cost, set(want["title"]))
    if not len(got):
        got = {c: want[c][:0] for c in want}
    w = want if has_cost else without_cost(want)
    p, share = compare(got, w, f"delivery {os.path.basename(out_dir)}",
                       ordered=False)
    return problems + p, share


# --------------------------------------------------------------- ANN checks

def exact_topk(q, corpus_ids, corpus, k):
    qn = q.astype(np.float64)
    cn = corpus.astype(np.float64)
    sims = (qn @ cn.T) / np.outer(np.linalg.norm(qn, axis=1),
                                  np.linalg.norm(cn, axis=1))
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return corpus_ids[top], sims


def check_ann(serves, live_at, vectors, queries, query_ids, k,
              index_ids, vector_ids, final_live):
    """serves: {serve_idx: [(query_id, rank, neighbor_id, cos_sim)]};
    live_at(serve_idx) -> sorted array of live ids at that serve; vectors:
    id -> f32 vector. Returns (problems, recall@k)."""
    problems = []
    qpos = {int(q): i for i, q in enumerate(query_ids)}
    hits, total = 0, 0
    for s in sorted(serves):
        live = live_at(s)
        live_set = set(live.tolist())
        mat = np.stack([vectors[i] for i in live])
        truth, _ = exact_topk(queries, live, mat, k)
        per_q = collections.defaultdict(list)
        for (qid, rank, nid, cos) in serves[s]:
            per_q[qid].append((rank, nid, cos))
        if set(per_q) != set(qpos):
            problems.append(f"serve {s}: answered {len(per_q)} of "
                            f"{len(qpos)} queries")
        for qid, rs in per_q.items():
            rs.sort()
            if [r for r, _, _ in rs] != list(range(1, k + 1)):
                problems.append(f"serve {s} query {qid}: ranks "
                                f"{[r for r, _, _ in rs]}")
            ids = [n for _, n, _ in rs]
            if len(set(ids)) != len(ids):
                problems.append(f"serve {s} query {qid}: duplicate ids")
            sims = [c for _, _, c in rs]
            if any(a < b for a, b in zip(sims, sims[1:])):
                problems.append(f"serve {s} query {qid}: not ranked")
            qv = queries[qpos[qid]].astype(np.float64)
            for _, n, c in rs:
                if n not in live_set:
                    problems.append(f"serve {s} query {qid}: returned id {n}"
                                    " that is not live (forgotten or unknown)")
                    continue
                v = vectors[n].astype(np.float64)
                exact = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
                if not abs(exact - c) <= 1e-6:
                    problems.append(f"serve {s} query {qid}: cos_sim {c} for "
                                    f"{n}, exact {exact}")
            hits += len(set(ids) & set(truth[qpos[qid]].tolist()))
            total += k
        if len(problems) > 5:
            break
    if list(index_ids) != list(final_live):
        problems.append(f"compacted index holds {len(index_ids)} ids, live "
                        f"tally {len(final_live)}; differ e.g. "
                        f"{sorted(set(index_ids) ^ set(final_live))[:5]}")
    if list(vector_ids) != list(final_live):
        problems.append(f"compacted vectors hold {len(vector_ids)} ids, live "
                        f"tally {len(final_live)}")
    return problems, (hits / total if total else 0.0)
