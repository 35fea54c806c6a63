"""Seeded input generators, one per workload.

Every generator is a pure function of (seed, out_dir, size): the same seed
writes byte-identical files, and nothing is read from outside `out_dir`.

- `mailbox`     gmail_daily: one `day_<k>/messages.jsonl` per simulated day
                (the FixtureApiClient layout: one messages.get resource per
                line, listing order = line order), plus `truth.json` with the
                expected formatted fields of every message and the per-day
                listing, for the exactly-once and spot checks.
- `corpus`      query_mix: the TESTDATA.md tables (same names, schemas),
                a base table set drawn from the seed and then replicated
                self-similarly the way ScaleStress.replica does it (key
                offsets, a per-replica letter rotation of document text, a
                per-replica embedding shift).
- `churn`       table_churn: event-shaped append batches, delete key sets,
                merge change sets and streaming drop files.

Run `python3 perfbench/gen.py <workload> <seed> <out_dir>` to write one set.
"""
import base64
import datetime as dt
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write_parquet(table, path):
    # fixed writer settings; no pandas metadata, so bytes depend on data only
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True, store_schema=True)


# ---------------------------------------------------------------- mailbox

# The formatted-body spec the pipeline implements (HtmlText.clean, then
# EmailOps.cleanBody), restated so the generator can state expected output.
_SCRIPT_STYLE = re.compile(r"<(script|style)[^>]*>.*?</\1\s*>", re.I | re.S)
_COMMENT = re.compile(r"<!--.*?-->", re.S)
_TAG = re.compile(r"<[^>]*>")
_ENTITY = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")
_NAMED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
          "nbsp": " "}


def _java_trim(s):
    i, j = 0, len(s)
    while i < j and s[i] <= " ":
        i += 1
    while j > i and s[j - 1] <= " ":
        j -= 1
    return s[i:j]


def _entity(m):
    e = m.group(1)
    if e[:2] in ("#x", "#X"):
        return chr(int(e[2:], 16))
    if e[0] == "#":
        return chr(int(e[1:]))
    return _NAMED.get(e, m.group(0))


def expected_body(raw):
    s = _COMMENT.sub("", _SCRIPT_STYLE.sub("", raw))
    joined = "".join(t for t in (_java_trim(x) for x in _TAG.split(s)) if t)
    text = _ENTITY.sub(_entity, joined)
    return re.sub(r"[\r\n]", "", re.sub(r"[^\x00-\x7F]", "", text))


def _b64(text):
    return base64.urlsafe_b64encode(text.encode("utf-8")).decode("ascii")


_WORDS = ("pipeline report stream table batch quarterly merge update team "
          "offer review schedule interview data engineer notes invoice "
          "meeting weekly summary status launch draft release").split()
_ROLES = ["Data Engineer", "Platform Engineer", "Analytics Lead",
          "Backend Developer", "ML Engineer"]
_ORGS = ["Graft Analytics &amp; Co", "Lakehouse Labs", "Stream Works",
         "Vector Systems", "Batch &amp; Sons"]
_PLACES = ["Remote, US", "Austin, TX", "Berlin, DE", "Toronto, ON"]


def _phrase(r, n):
    return " ".join(_WORDS[i] for i in r.integers(0, len(_WORDS), n))


def _message(r, mid, day):
    """One messages.get resource and its expected formatted fields."""
    kind = int(r.integers(0, 8))
    when = dt.datetime(2024, 3, 1) + dt.timedelta(
        days=day, seconds=int(r.integers(0, 86400)))
    subject = _phrase(r, 4).title()
    # a '?' and '>' in the text put '_' and '-' into the urlsafe encoding
    text = _phrase(r, 12) + " ok? >> done"
    sender, from_addr = "Alice Smith <alice@example.com>", "alice@example.com"
    role = org = location = None
    date_hdr = when.strftime("%a, ") + f"{when.day} " + \
        when.strftime("%b %Y %H:%M:%S") + " +0000 (UTC)"
    date_string = when.strftime("%m/%d/%y %H:%M:%S")
    if kind == 0:                       # plain single part
        chunks, mime = [text], "text/plain"
        payload_body = {"size": len(text), "data": _b64(text)}
        parts = None
    elif kind == 1:                     # html with script and style
        html = (f"<html><head><style>p{{color:red}}</style>"
                f"<script>var x = 1;</script></head><body><!-- promo -->"
                f"<p>{text}</p><p>Café &amp; more</p></body></html>")
        chunks = [html]
        mime = "text/html"
        payload_body = {"size": len(html), "data": _b64(html)}
        parts = None
    elif kind == 2:                     # multipart nested to depth 3
        c0, c1, c2, c3 = (text, f"<div><p>{_phrase(r, 5)}</p></div>",
                          _phrase(r, 6) + "\r\nline two",
                          f"<p>deep &#64; {_phrase(r, 3)}</p>")
        chunks = [c0, c1, c2, c3]
        mime = "multipart/mixed"
        payload_body = {"size": len(c0), "data": _b64(c0)}
        parts = [
            {"partId": "0", "mimeType": "text/html",
             "body": {"size": len(c1), "data": _b64(c1)}},
            {"partId": "1", "mimeType": "multipart/alternative",
             "body": {"size": 0}, "parts": [
                 {"partId": "1.0", "mimeType": "text/plain",
                  "body": {"size": len(c2), "data": _b64(c2)}},
                 {"partId": "1.1", "mimeType": "multipart/related",
                  "body": {"size": 0}, "parts": [
                      {"partId": "1.1.0", "mimeType": "text/html",
                       "body": {"size": len(c3), "data": _b64(c3)}}]}]}]
    elif kind == 3:                     # indeed application mail
        role = _ROLES[int(r.integers(0, len(_ROLES)))]
        org_html = _ORGS[int(r.integers(0, len(_ORGS)))]
        place = _PLACES[int(r.integers(0, len(_PLACES)))]
        html = (f"<html><body><p>Hi,</p><div dir=\"rtl\">"
                f"<p>Application submitted</p><p>{role}</p>"
                f"<p>applied via Indeed - {place}</p><p>{org_html}</p>"
                f"</div></body></html>")
        org, location = org_html.replace("&amp;", "&"), place
        sender = "Indeed Apply <indeedapply@indeed.com>"
        from_addr = "indeedapply@indeed.com"
        chunks = [html]
        mime = "text/html"
        payload_body = {"size": len(html), "data": _b64(html)}
        parts = None
    elif kind == 4:                     # linkedin mail (extractor disabled)
        html = (f"<h2>Your application was sent to Lakehouse Labs</h2>"
                f"<table><tr><td><p>x</p><p>{_ROLES[0]} · Remote</p>"
                f"<p>Lakehouse Labs · now</p></td></tr></table>")
        sender = "LinkedIn <jobs-noreply@linkedin.com>"
        from_addr = "jobs-noreply@linkedin.com"
        chunks = [html]
        mime = "text/html"
        payload_body = {"size": len(html), "data": _b64(html)}
        parts = None
    elif kind == 5:                     # unparseable date
        date_hdr, date_string = "sometime last week", None
        chunks, mime = [text], "text/plain"
        payload_body = {"size": len(text), "data": _b64(text)}
        parts = None
    elif kind == 6:                     # no date header
        date_hdr, date_string = None, None
        chunks, mime = [text], "text/plain"
        payload_body = {"size": len(text), "data": _b64(text)}
        parts = None
    else:                               # payload missing entirely
        msg = {"id": mid, "threadId": "t" + mid}
        return msg, {"subject": None, "from": None, "date_string": None,
                     "body": "", "role": None, "org": None,
                     "location": None, "mimeType": None}
    headers = [{"name": "Subject", "value": subject},
               {"name": "From", "value": sender}]
    if date_hdr is not None:
        headers.append({"name": "Date", "value": date_hdr})
    payload = {"mimeType": mime, "headers": headers, "body": payload_body}
    if parts is not None:
        payload["parts"] = parts
    msg = {"id": mid, "threadId": "t" + mid, "labelIds": ["INBOX"],
           "payload": payload}
    return msg, {"subject": subject, "from": from_addr,
                 "date_string": date_string,
                 "body": expected_body(" ".join(chunks)),
                 "role": role, "org": org, "location": location,
                 "mimeType": mime}


def mailbox(seed, out, days=4, base_new=300, budget=300, dup_every=9):
    """A mailbox that grows every day. Day k lists every message received so
    far, newest first, with some ids listed twice (a message that moved
    between pages while the listing was walked). New arrivals per day follow
    a fixed schedule around `base_new`, so every seed lists the same number
    of ids each day; the days above the pipeline's per-day `budget` carry
    their overflow to later days. The default budget is the reference's
    limit of 300 new messages per run. The seed draws the messages."""
    r = _rng(seed, 1)
    os.makedirs(out, exist_ok=True)
    inbox, truth, listing = [], {}, []
    seq = 0
    swing = (1.3, 0.7, 1.2, 0.8)
    for day in range(days):
        n_new = int(base_new * swing[day % len(swing)])
        for _ in range(n_new):
            mid = f"{int(seed) & 0xffff:04x}{seq:06x}"
            seq += 1
            msg, exp = _message(r, mid, day)
            inbox.append(json.dumps(msg, separators=(",", ":")))
            truth[mid] = exp
        lines = list(reversed(inbox))
        ids = []
        listed = []
        for i, line in enumerate(lines):
            listed.append(line)
            if i % dup_every == dup_every - 1:
                listed.append(lines[i // 2])    # re-listed on a later page
        for line in listed:
            ids.append(json.loads(line)["id"])
        d = os.path.join(out, f"day_{day}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "messages.jsonl"), "w") as f:
            f.write("\n".join(listed) + "\n")
        listing.append(ids)
    with open(os.path.join(out, "budget"), "w") as f:
        f.write(f"{budget}\n")
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"days": days, "budget": budget, "listing": listing,
                   "messages": truth}, f, sort_keys=True)
    return {"days": days, "messages": len(truth)}


# ----------------------------------------------------------------- corpus

_DOC_WORDS = ("a the data table row column key value scan filter sort hash "
              "join merge group agg window order line part customer query "
              "stream batch spark vector fast slow small big").split()
_LANGS = ["en"] * 9 + ["zh"] * 3 + ["es"] * 3 + ["de"] * 3 + ["fr"] * 3
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PCOLORS = ["small", "red", "blue", "green", "big", "old", "new", "shiny"]
_PNOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = ["click", "signup", "error", "view", "purchase"]


def _micros(base, offsets_s):
    return (np.datetime64(base, "us") +
            (offsets_s * 1e6).astype("int64").astype("timedelta64[us]"))


def _base_tables(seed, scale):
    r = _rng(seed, 2)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_ev = 1500 * scale, 1000 * scale
    n_doc = n_emb = 100 * scale
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_PCOLORS[a]} {_PNOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    odate = _micros("1995-01-01",
                    r.integers(0, 2404, n_ord).astype("float64") * 86400)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [_PRIOS[i] for i in r.integers(0, 5, n_ord)]})
    lines_per = r.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = r.integers(1, 51, n_li).astype("float64")
    ship = odate[okey] + (r.integers(1, 122, n_li) * 86400 * 1_000_000
                          ).astype("timedelta64[us]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    gaps = r.exponential(30 * 86400 / n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(_micros("2024-01-01", np.cumsum(gaps)),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 15 * scale, n_ev), pa.int64()),
        "event_type": [_ETYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(25.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts = [" ".join(_DOC_WORDS[i] for i in
                      r.integers(0, len(_DOC_WORDS), int(r.integers(8, 80))))
             for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in r.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = r.normal(0.0, 0.15, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vec = centers[labels] + r.normal(0.0, 1.0 / 8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def _rot(text, k):
    a = "abcdefghijklmnopqrstuvwxyz"
    return text.translate(str.maketrans(a, a[k % 26:] + a[:k % 26]))


def _replica(name, t, rep):
    """ScaleStress.replica's transform, replica `rep` of table `t`."""
    off = rep * 1_000_000_000
    if rep == 0:
        return t

    def shift(tab, c):
        i = tab.schema.get_field_index(c)
        return tab.set_column(i, c, pa.array(
            tab.column(c).to_numpy() + off, pa.int64()))
    if name == "documents":
        t = shift(t, "doc_id")
        i = t.schema.get_field_index("text")
        return t.set_column(i, "text", pa.array(
            [_rot(x, rep) for x in t.column("text").to_pylist()]))
    if name == "embeddings":
        t = shift(t, "vec_id")
        flat = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        i = t.schema.get_field_index("embedding")
        return t.set_column(i, "embedding", pa.array(
            list((flat + np.float32(rep * 1e-3)).astype("float32")),
            pa.list_(pa.float32())))
    if name == "orders":
        return shift(t, "o_orderkey")
    if name == "lineitem":
        return shift(t, "l_orderkey")
    return shift(shift(t, "event_id"), "user_id")


def corpus(seed, out, scale=5, replicas=2):
    """The query_mix table set: a base drawn at `scale` (10 = the sf0.01
    shape of TESTDATA.md) and `replicas` self-similar copies of the facts."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    facts = ("documents", "embeddings", "orders", "lineitem", "events")
    for name, t in sorted(_base_tables(seed, scale).items()):
        n = replicas if name in facts else 1
        full = pa.concat_tables([_replica(name, t, k) for k in range(n)])
        _write_parquet(full, os.path.join(out, f"{name}.parquet"))
        rows[name] = full.num_rows
    return rows


# ------------------------------------------------------------------ churn

def _events(r, start_id, n, day0):
    # UTC-adjusted timestamps, so Spark reads `ts` as TIMESTAMP
    ts = _micros("2024-06-01", day0 * 86400.0 + np.sort(
        r.uniform(0, 2 * 86400.0, n)))
    return pa.table({
        "event_id": pa.array(np.arange(start_id, start_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(r.integers(0, 500, n), pa.int64()),
        "event_type": [_ETYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.uniform(0.0, 1000.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def churn(seed, out, batch_rows=1500, appends=2, part_appends=1,
          stream_files=2):
    """Batches for one table lifetime. `append_<i>` and `part_<i>` land as
    plain and days(ts)-partitioned appends; `cow_keys`/`mor_keys` are
    existing keys to delete copy-on-write and merge-on-read; `merge` upserts
    (half existing keys with new values, half new keys); `stream/` holds
    the files an AvailableNow stream commits one micro-batch each."""
    r = _rng(seed, 3)
    os.makedirs(out, exist_ok=True)
    nid = 0
    live = []
    for i in range(appends):
        t = _events(r, nid, batch_rows, 2 * i)
        nid += batch_rows
        live.append(t.column("event_id").to_numpy())
        _write_parquet(t, os.path.join(out, f"append_{i}.parquet"))
    for i in range(part_appends):
        t = _events(r, nid, batch_rows, 2 * (appends + i))
        nid += batch_rows
        live.append(t.column("event_id").to_numpy())
        _write_parquet(t, os.path.join(out, f"part_{i}.parquet"))
    ids = np.concatenate(live)
    pick = r.permutation(ids)
    k = max(1, batch_rows // 20)
    cow, mor, upd = pick[:k], pick[k:2 * k], pick[2 * k:3 * k]
    _write_parquet(pa.table({"event_id": pa.array(np.sort(cow), pa.int64())}),
                   os.path.join(out, "cow_keys.parquet"))
    _write_parquet(pa.table({"event_id": pa.array(np.sort(mor), pa.int64())}),
                   os.path.join(out, "mor_keys.parquet"))
    fresh = _events(r, nid, k, 1)
    nid += k
    upd_t = _events(r, 0, k, 3)
    upd_t = upd_t.set_column(0, "event_id",
                             pa.array(np.sort(upd), pa.int64()))
    _write_parquet(pa.concat_tables([upd_t, fresh]),
                   os.path.join(out, "merge.parquet"))
    sd = os.path.join(out, "stream")
    os.makedirs(sd, exist_ok=True)
    for i in range(stream_files):
        t = _events(r, nid, batch_rows // 2, 20 + i)
        nid += batch_rows // 2
        _write_parquet(t, os.path.join(sd, f"{i:03d}.parquet"))
    return {"rows": int(nid)}


GENERATORS = {"gmail_daily": mailbox, "query_mix": corpus,
              "table_churn": churn}


if __name__ == "__main__":
    wl, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(GENERATORS[wl](seed, out)))
