"""Seeded input generators and the ground truth the benchmark's checks need.

Every generator takes a numpy Generator made from the run's seed, writes
files the library reads, and returns plain data the checks compare with.
Nothing here imports the library: the models below restate the documented
rules (window, watermark, parse, union-find, brute-force top-k) directly.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- ohlc_stream ---------------------------------------------------------

WINDOW_S = 60        # WINDOW_DURATION=1 minute
WATERMARK_S = 120    # WATERMARK_DELAY=2 minutes
T0 = 1_704_067_200   # 2024-01-01T00:00:00Z; batch b covers minute b
TOPIC_PREFIX = "parsed-trades-"


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _trade_line(topic, base, ts, price, qty, trade_id, bad_ts, bad_price):
    """One line as json.dumps({"topic": topic, "value": json.dumps(payload)})
    writes it; every field is plain ASCII, so only the quotes need escaping."""
    ts_s = "n/a" if bad_ts else str(ts)
    price_s = "abc" if bad_price else f"{price:.2f}"
    payload = (
        f'{{"type": "0", "market": "bench", "from_symbol": "{base.upper()}", '
        f'"to_symbol": "USDT", "flags": "1", "trade_id": "{trade_id}", '
        f'"timestamp": "{ts_s}", "quantity": "{qty:.4f}", "price": "{price_s}", '
        f'"total_value": "{qty * price:.4f}", "received_ts": "{ts_s}", '
        f'"ccseq": "0", "timestamp_ns": "0", "received_ts_ns": "0"}}')
    return f'{{"topic": "{topic}", "value": "{payload.replace(chr(34), chr(92) + chr(34))}"}}'


def gen_trades(rng, out_dir, n_batches, rows_per_batch, n_bases=1000):
    """Writes out_dir/batch_%05d.json (JSON lines of topic, value) and
    returns one dict per batch: the rows parsing drops, and the parsed
    rows (ts, base, price or nan, qty) for the model.

    Mix: Zipf-skewed bases; ties on the same second; ~0.5% malformed JSON;
    ~0.5% non-numeric timestamps (dropped) and ~0.5% non-numeric prices
    (kept, price null); ~1% multi-hyphen topics (base '' by the
    reference's gate/extract quirk) and ~1% topics outside the prefix
    (base from the payload); ~1% late rows one minute behind (inside the
    watermark) and ~1% ten minutes behind (past it)."""
    os.makedirs(out_dir, exist_ok=True)
    bases = [f"b{i:04d}" for i in range(n_bases)]
    probs = _zipf_probs(n_bases, 1.1)
    mid = 100.0 + rng.random(n_bases) * 900.0
    batches = []
    for b in range(n_batches):
        n = rows_per_batch
        bi = rng.choice(n_bases, size=n, p=probs)
        # ~n/20 distinct seconds per minute: many ties on the same second
        sec = rng.integers(0, WINDOW_S, size=n)
        ts = T0 + b * WINDOW_S + sec
        u = rng.random(n)
        late_in = (u < 0.01) & (b >= 1)
        late_out = (u >= 0.01) & (u < 0.02) & (b >= 2)
        ts = np.where(late_in, ts - WINDOW_S, ts)
        ts = np.where(late_out, ts - 10 * WINDOW_S, ts)
        price = np.round(mid[bi] * (1 + 0.01 * rng.standard_normal(n)), 2)
        price = np.maximum(price, 0.01)
        qty = np.round(rng.random(n) * 5 + 0.0001, 4)
        trade_id = rng.integers(1, 1 << 40, size=n)
        v = rng.random(n)
        malformed = v < 0.005
        bad_ts = (v >= 0.005) & (v < 0.01)
        bad_price = (v >= 0.01) & (v < 0.015)
        w = rng.random(n)
        multi = w < 0.01
        foreign = (w >= 0.01) & (w < 0.02)
        lines, rows = [], []
        for i in range(n):
            base = bases[bi[i]]
            if multi[i]:
                topic = f"{TOPIC_PREFIX}{base}-x-usdt"
            elif foreign[i]:
                topic = f"trades-{base}"
            else:
                topic = f"{TOPIC_PREFIX}{base}-usdt"
            line = _trade_line(topic, base, int(ts[i]), float(price[i]), float(qty[i]),
                               int(trade_id[i]), bad_ts[i], bad_price[i])
            if malformed[i]:
                line = line[: len(line) // 2]
            lines.append(line)
            if malformed[i] or bad_ts[i]:
                continue
            key = "" if multi[i] else (base.upper() if foreign[i] else base)
            rows.append((int(ts[i]), key,
                         math.nan if bad_price[i] else float(price[i]), float(qty[i])))
        with open(os.path.join(out_dir, f"batch_{b:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        batches.append({"parse_drops": int(malformed.sum() + bad_ts.sum()), "rows": rows})
    return batches


def candle_model(batches):
    """The plain model of update-mode windowed candles with a watermark,
    over batches landed one at a time. Returns ({(base, start): candle},
    rows the stateful operator drops). A batch's watermark is the largest
    event time of the earlier batches minus the delay; a row whose window
    ends at or before it is dropped. The drop count is the number of
    (window, base) groups among a batch's dropped rows, because Spark
    counts the stateful operator's input after partial aggregation (one
    file is one partition)."""
    state, dropped, max_ts = {}, 0, None
    for bt in batches:
        wm = None if max_ts is None else max_ts - WATERMARK_S
        late_groups = set()
        for ts, base, price, qty in bt["rows"]:
            start = ts - ts % WINDOW_S
            if wm is not None and start + WINDOW_S <= wm:
                late_groups.add((base, start))
                continue
            c = state.setdefault((base, start), {
                "o": None, "h": None, "l": None, "c": None, "v": 0.0})
            c["v"] += qty
            if price != price:  # nan: non-numeric price is a null
                continue
            key = (ts, price)
            if c["o"] is None or key < c["o"]:
                c["o"] = key
            if c["c"] is None or key > c["c"]:
                c["c"] = key
            c["h"] = price if c["h"] is None else max(c["h"], price)
            c["l"] = price if c["l"] is None else min(c["l"], price)
        dropped += len(late_groups)
        bmax = max((r[0] for r in bt["rows"]), default=None)
        if bmax is not None:
            max_ts = bmax if max_ts is None else max(max_ts, bmax)
    out = {}
    for (base, start), c in state.items():
        out[(base, start)] = {
            "open": c["o"][1] if c["o"] else None, "high": c["h"],
            "low": c["l"], "close": c["c"][1] if c["c"] else None,
            "volume": c["v"]}
    return out, dropped


# -- shared ------------------------------------------------------------

_TS = pa.timestamp("us")


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


# -- tradelog_io ---------------------------------------------------------

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EV_T0_US = T0 * 1_000_000
MONTH_US = 30 * 86_400 * 1_000_000


def event_columns(rng, first_id, n, lo_us=EV_T0_US, span_us=MONTH_US, users=1500):
    """n rows in the events schema with ids first_id.., sorted distinct µs
    timestamps in [lo_us, lo_us + span_us), two-decimal values."""
    ts = np.sort(rng.choice(span_us, size=n, replace=False)) + lo_us
    return (np.arange(first_id, first_id + n, dtype=np.int64),
            ts.astype("datetime64[us]"),
            rng.integers(0, users, n).astype(np.int64),
            _choice(rng, EVENT_TYPES, n),
            rng.integers(0, 56_022, n) / 100.0,
            np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)),
                        "}").astype(object))


def gen_tradelog(rng, out_dir, n_commits, rows_per_commit, users=200):
    """One events table (out_dir/cNNNNN/events.parquet) per commit,
    time-ordered across commits (commit c covers hour c of the event
    clock), plus the reads that follow each commit: a slice [lo, hi) and a
    point user. Returns per-commit truth (the slice's count and sum of
    value*100, the point user's sorted event ids, over the rows committed
    so far) and the bytes of the generated rows."""
    os.makedirs(out_dir, exist_ok=True)
    hour = 3_600 * 1_000_000
    per_user, reads, user_bytes = {}, [], 0
    all_ts, all_v = [], []
    for c in range(n_commits):
        cols = event_columns(rng, c * rows_per_commit, rows_per_commit,
                             lo_us=EV_T0_US + c * hour, span_us=hour, users=users)
        os.makedirs(os.path.join(out_dir, f"c{c:05d}"))
        _write(os.path.join(out_dir, f"c{c:05d}", "events.parquet"), list(cols),
               EVENTS_SCHEMA)
        ids, ts, uid, et, val, props = cols
        ts_us = ts.astype(np.int64)
        cents = np.round(val * 100).astype(np.int64)
        all_ts.append(ts_us)
        all_v.append(cents)
        for i, u in zip(ids.tolist(), uid.tolist()):
            per_user.setdefault(u, []).append(i)
        user_bytes += int(rows_per_commit * 8 * 4 + sum(len(x) for x in et)
                          + sum(len(x) for x in props))
        # the slice: a random half-hour range inside the committed span
        lo = EV_T0_US + int(rng.integers(0, (c + 1) * hour - hour // 2))
        hi = lo + hour // 2
        t_all, v_all = np.concatenate(all_ts), np.concatenate(all_v)
        m = (t_all >= lo) & (t_all < hi)
        point = int(rng.integers(0, users))
        reads.append({"lo_us": lo, "hi_us": hi, "n": int(m.sum()),
                      "sum_v2": int(v_all[m].sum()), "user": point,
                      "ids": list(per_user.get(point, []))})
    return reads, user_bytes


# -- the standalone LLM pass ----------------------------------------------

def _pseudo_words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def shingles(text, n=3):
    t = text.split(" ")
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def gen_corpus(rng, out_dir, n_docs, n_vecs, dim=64, n_centroids=32,
               threshold=0.8):
    """documents.parquet: a Zipf vocabulary of 5,000 pseudo-words, ~10%
    exact copies and ~10% near copies with one word changed; and
    embeddings.parquet: dim-d vectors in groups of four around points drawn
    around seeded centroids. Returns the truth: distinct text count, the
    planted near pairs whose shingle Jaccard clears the threshold, and the
    vectors for the exact cosine top-k."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.asarray(_pseudo_words(rng, 5000), dtype=object)
    probs = _zipf_probs(len(vocab), 1.0)
    texts, planted = [], []
    for d in range(n_docs):
        u = rng.random()
        if d > 0 and u < 0.1:
            texts.append(texts[int(rng.integers(0, d))])
        elif d > 0 and u < 0.2:
            src = int(rng.integers(0, d))
            toks = texts[src].split(" ")
            i = int(rng.integers(0, len(toks)))
            new = toks[i]
            while new == toks[i]:
                new = vocab[rng.choice(len(vocab), p=probs)]
            toks[i] = new
            texts.append(" ".join(toks))
            a, b = shingles(texts[src]), shingles(texts[-1])
            if round(len(a & b) / len(a | b), 4) >= threshold:
                planted.append((src, d))
        else:
            k = int(rng.integers(40, 81))
            texts.append(" ".join(vocab[rng.choice(len(vocab), size=k, p=probs)]))
    _write(os.path.join(out_dir, "documents.parquet"), [
        np.arange(n_docs, dtype=np.int64), texts,
        _choice(rng, ["de", "en", "es", "fr", "zh"], n_docs),
        np.char.add("src", rng.integers(0, 20, n_docs).astype(str)).astype(object),
        np.array([len(t) for t in texts], dtype=np.int64)],
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))
    # groups of four close vectors around points spread over the centroids,
    # so every vector has three clear nearest neighbours
    cents = rng.standard_normal((n_centroids, dim))
    lab = rng.integers(0, n_centroids, n_vecs // 4 + 1)
    points = cents[lab] + 0.5 * rng.standard_normal((len(lab), dim))
    grp = rng.permutation(np.arange(n_vecs) // 4)
    lab = lab[grp]
    vecs = (points[grp] + 0.05 * rng.standard_normal((n_vecs, dim))).astype(np.float32)
    emb = pa.array(list(vecs), type=pa.list_(pa.float32()))
    _write(os.path.join(out_dir, "embeddings.parquet"),
           [np.arange(n_vecs, dtype=np.int64), emb, (lab % 10).astype(np.int32)],
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))
    return {"distinct_texts": len(set(texts)), "planted_pairs": planted,
            "vecs": vecs.astype(np.float64)}


def exact_topk(vecs, n_queries, k):
    """Cosine top-k per query id < n_queries over all other vectors,
    ties broken on the lower id."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for q in range(n_queries):
        cos = unit @ unit[q]
        cos[q] = -np.inf
        out[q] = np.lexsort((np.arange(len(cos)), -cos))[:k].tolist()
    return out
