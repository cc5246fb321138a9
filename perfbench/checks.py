"""Output checks: each compares what the library returned with the ground
truth the generators recorded. A check returns a list of failure strings
plus figures (recalls, counts) for the record."""
import datetime as dt
import json
import math
import os

import gen


def _epoch(s):
    return int(dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp())


def check_ohlc(record, batches):
    """The latest emission per (base, start_ts) equals the plain model over
    the batches that landed; the stateful operator's watermark drops equal
    the model's."""
    fig = record["figures"]
    landed = batches[: fig["landed"]]
    expected, dropped = gen.candle_model(landed)
    latest = {}
    with open(fig["emitted"]) as f:
        for line in f:
            _, value = line.rstrip("\n").split("\t", 1)
            v = json.loads(value)
            latest[(v["base"], _epoch(v["start_ts"]))] = v
    fails = []
    if set(latest) != set(expected):
        fails.append(f"ohlc: {len(set(latest) ^ set(expected))} candle keys differ "
                     f"({len(latest)} emitted, {len(expected)} expected)")
    bad = 0
    for k in set(latest) & set(expected):
        got, want = latest[k], expected[k]
        for f in ("open", "high", "low", "close"):
            if got.get(f) != want[f]:
                bad += 1
        if not math.isclose(got["volume"], want["volume"], rel_tol=1e-9, abs_tol=1e-9):
            bad += 1
    if bad:
        fails.append(f"ohlc: {bad} candle fields differ from the model")
    drops = sum(p["state_rows_dropped_by_watermark"] for p in fig["progress"])
    if drops != dropped:
        fails.append(f"ohlc: stateful operator dropped {drops} rows past the "
                     f"watermark, the model {dropped}")
    if "rows_dropped_parse" in fig and fig["rows_dropped_parse"] != batches[0]["parse_drops"]:
        fails.append(f"ohlc: parse dropped {fig['rows_dropped_parse']} rows, "
                     f"the generator {batches[0]['parse_drops']}")
    return fails, {"n_checks": 4, "candles": len(expected), "watermark_drops": dropped}


def _rows(path):
    with open(path) as f:
        return [l.rstrip("\n").split("\t") for l in f if l.strip()]


def check_llm(record, truth, n_docs, n_queries=20, k=3):
    """The standalone LLM pass: exact survivors equal the distinct texts;
    ccStars labels equal the union-find components of the pairs `near`
    returned; both recalls are computed against the ground truth."""
    out = record["figures"]["llm_outputs"]
    fails = []
    exact = _rows(os.path.join(out, "out_exact.tsv"))
    if len(exact) != truth["distinct_texts"] or sum(int(r[1]) for r in exact) != n_docs:
        fails.append(f"exact: {len(exact)} survivors, {truth['distinct_texts']} distinct texts")
    pairs = [(int(r[0]), int(r[1])) for r in _rows(os.path.join(out, "out_near.tsv"))]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for x in parent:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    labels = {int(r[0]): int(r[1]) for r in _rows(os.path.join(out, "out_cc.tsv"))}
    want = {x: comp_min[find(x)] for x in parent}
    if labels != want:
        fails.append(f"cc: {sum(labels.get(x) != want[x] for x in want)} labels differ "
                     f"from the union-find components of near's pairs")
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    planted = {tuple(p) for p in truth["planted_pairs"]}
    near_recall = len(planted & found) / len(planted) if planted else 1.0
    topk = gen.exact_topk(truth["vecs"], n_queries, k)
    got = {}
    for r in _rows(os.path.join(out, "out_ivfpq.tsv")):
        got.setdefault(int(r[0]), set()).add(int(r[2]))
    hit = sum(len(set(v) & got.get(q, set())) for q, v in topk.items())
    ann_recall = hit / (n_queries * k)
    bpe = _rows(os.path.join(out, "out_bpe.tsv"))
    if not bpe:
        fails.append("bpe: no merges")
    for name, r, floor in (("near_dup_recall", near_recall, 0.8), ("ann_recall", ann_recall, 0.5)):
        if r < floor:
            fails.append(f"{name} {r:.3f} below {floor}")
    return fails, {"n_checks": 5, "near_pairs": len(pairs), "near_dup_recall": near_recall,
                   "ann_recall": ann_recall, "planted_pairs": len(planted)}


def check_tradelog(record, reads, run_dir):
    """Every read after every commit equals the generator's rows."""
    fails = []
    rows = _rows(os.path.join(run_dir, "tradelog", "results.tsv"))
    for c, n, s, ids in rows:
        want = reads[int(c)]
        got_ids = [int(x) for x in ids.split(",")] if ids else []
        if (int(n), int(s)) != (want["n"], want["sum_v2"]):
            fails.append(f"commit {c}: slice read ({n}, {s}) vs ({want['n']}, {want['sum_v2']})")
        if got_ids != want["ids"]:
            fails.append(f"commit {c}: point read of user {want['user']} differs")
    return fails, {"n_checks": 2 * len(rows)}
