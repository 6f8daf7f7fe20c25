#!/usr/bin/env python3
"""Seeded tweet-like feed generator, run as its own process.

Stages two feeds from one seed under <out>/stage/<feed>/ and publishes
them into <watch>/<feed>/ by rename:

  backlog  all files renamed into place before the system under test
           starts;
  paced    once <go> exists (the system under test writes it when it is
           ready), one file per --tick-ms, renamed from one thread.

Each line is the producer's JSON envelope {"message": <text>} with the
producer's comma scrub applied, byte-identical to what
EnvelopeFeed.enveloped writes for the same text (a null text gives
"{}", which the pipeline's null filter drops); tests/test_bench.py
checks that identity. Per feed, <out>/<feed>.manifest.json fingerprints
the expected message multiset and <out>/<feed>.log.jsonl records every
file's scheduled and actual publish time. While a run is live the
generator only renames.

Text: 5-30 tokens per doc drawn Zipf(1) over the fixture vocabulary's
index (frequency) order, so the scorer's working set is the whole
262,144-term map, plus fixed shares of surface noise (SHARES).
"""
import argparse
import hashlib
import json
import os
import time
import zlib

import numpy as np
from json.encoder import encode_basestring as encode_string

GO_TIMEOUT_S = 120  # how long to wait for the system under test to be ready

# Unverified placeholders: no share below comes from a measured tweet
# sample (the repository holds none), and none has a cited source. They
# set the per-row chain's cost (decode, cleanTokens, vocab hits), so keep
# them unchanged until a real sample is in the repository.
SHARES = {
    "null_message": 0.005,  # per doc: envelope whose message decodes to null
    "mention": 0.15,        # per doc: leading @mention
    "url": 0.15,            # per doc: trailing https:// URL
    "oov": 0.04,            # per token: random out-of-vocabulary word
    "emoji": 0.02,          # per token: emoji
    "digits": 0.03,         # per token: number
    "hashtag": 0.03,        # per token: #hashtag
    "upper": 0.02,          # per word: UPPER CASE
    "capitalised": 0.15,    # per word: Capitalised
    "punctuation": 0.08,    # per word: trailing punctuation
    "comma": 0.06,          # per word: trailing comma (the producer scrubs it)
}
EMOJI = ["\U0001F600", "\U0001F602", "\U0001F62D", "❤️",
         "\U0001F525", "\U0001F44D", "\U0001F621", "\U0001F389"]
PUNCT = ["!", "?", ".", "...", "!!", ":", ";", "?!"]
ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def texts(rng, terms, cdf, n):
    """n seeded texts (None for a null message)."""
    s = SHARES
    ntok = 5 + rng.integers(0, 26, n)
    total = int(ntok.sum())
    toks = terms[np.searchsorted(cdf, rng.random(total), side="right").clip(max=len(terms) - 1)]
    kind = rng.random(total)
    style = rng.random(total)
    tail = rng.random(total)
    pick = rng.integers(0, 1 << 30, total)
    out = toks.tolist()
    pick = pick.tolist()
    edges = np.cumsum([s["oov"], s["emoji"], s["digits"], s["hashtag"]])
    word = kind >= edges[3]

    def where(mask):
        return np.flatnonzero(mask).tolist()

    for i in where(kind < edges[0]):
        k = pick[i]
        out[i] = "".join(chr(97 + (k >> (5 * j)) % 26) for j in range(3 + k % 7))
    for i in where((kind >= edges[0]) & (kind < edges[1])):
        out[i] = EMOJI[pick[i] % len(EMOJI)]
    for i in where((kind >= edges[1]) & (kind < edges[2])):
        out[i] = str(pick[i] % 10000)
    for i in where((kind >= edges[2]) & (kind < edges[3])):
        out[i] = "#" + out[i]
    for i in where(word & (style < s["upper"])):
        out[i] = out[i].upper()
    for i in where(word & (style >= s["upper"]) & (style < s["upper"] + s["capitalised"])):
        out[i] = out[i][:1].upper() + out[i][1:]
    for i in where(word & (tail < s["punctuation"])):
        out[i] = out[i] + PUNCT[pick[i] % len(PUNCT)]
    for i in where(word & (tail >= s["punctuation"]) & (tail < s["punctuation"] + s["comma"])):
        out[i] = out[i] + ","
    null = (rng.random(n) < s["null_message"]).tolist()
    mention = (rng.random(n) < s["mention"]).tolist()
    url = (rng.random(n) < s["url"]).tolist()
    extra = rng.integers(0, 1 << 60, n).tolist()
    mention_terms = terms[np.searchsorted(cdf, rng.random(n), side="right").clip(
        max=len(terms) - 1)].tolist()
    bounds = np.cumsum(ntok).tolist()
    docs = []
    start = 0
    for d in range(n):
        end = bounds[d]
        t = " ".join(out[start:end])
        start = end
        if null[d]:
            docs.append(None)
            continue
        e = extra[d]
        if mention[d]:
            t = "@" + mention_terms[d] + str(e % 1000) + " " + t
        if url[d]:
            t += " https://t.co/" + "".join(ALNUM[(e >> (6 * j)) % 62] for j in range(10))
        docs.append(t)
    return docs


def envelope(text):
    """The producer's wire format: comma scrub, then JSON encode."""
    if text is None:
        return "{}"
    return '{"message":' + encode_string(text.replace(",", "")) + "}"


def fingerprint(messages):
    """Order-independent fingerprint of a string multiset; Audit.scala
    computes the same over the committed view."""
    n = c = h = 0
    for m in messages:
        b = m.encode("utf-8")
        n += 1
        c += zlib.crc32(b)
        h += int(hashlib.sha256(b).hexdigest()[:15], 16)
    return {"n": n, "crc32": str(c), "sha15": str(h)}


def stage(args, terms, cdf):
    rng = np.random.default_rng(args.seed)
    staged = {}
    for feed, docs, files in (("paced", args.paced_docs, args.paced_files),
                              ("backlog", args.backlog_docs, args.backlog_files)):
        ts = texts(rng, terms, cdf, docs)
        d = os.path.join(args.out, "stage", feed)
        os.makedirs(d, exist_ok=True)
        moved = []
        for i in range(files):
            part = ts[docs * i // files: docs * (i + 1) // files]
            path = os.path.join(d, f"{feed}-{i:05d}.json")
            with open(path, "w", encoding="utf-8") as f:
                f.write("".join(envelope(t) + "\n" for t in part))
            moved.append((path, len(part)))
        manifest = {"seed": args.seed, "envelopes": docs, "files": files, "shares": SHARES,
                    "expected": fingerprint(t.replace(",", "") for t in ts if t is not None)}
        with open(os.path.join(args.out, f"{feed}.manifest.json"), "w") as f:
            json.dump(manifest, f)
        staged[feed] = moved
    return staged


def publish(args, feed, files, due):
    watch = os.path.join(args.watch, feed)
    os.makedirs(watch, exist_ok=True)
    log = []
    for i, (path, n) in enumerate(files):
        scheduled = due(i)
        while True:
            now = time.time() * 1000
            if now >= scheduled:
                break
            time.sleep(min(scheduled - now, 50) / 1000)
        dst = os.path.join(watch, os.path.basename(path))
        os.rename(path, dst)
        log.append(json.dumps({"file": os.path.abspath(dst), "docs": n,
                               "scheduled_ms": int(scheduled), "actual_ms": int(time.time() * 1000)}))
    with open(os.path.join(args.out, f"{feed}.log.jsonl"), "w") as f:
        f.write("\n".join(log) + "\n")


def touch(path):
    with open(path, "w"):
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--vocab", required=True, help="sentiment_vocab.parquet")
    ap.add_argument("--go", required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    ap.add_argument("--paced-docs", type=int, required=True)
    ap.add_argument("--paced-files", type=int, required=True)
    ap.add_argument("--backlog-docs", type=int, required=True)
    ap.add_argument("--backlog-files", type=int, required=True)
    args = ap.parse_args()
    import duckdb
    terms = np.array([r[0] for r in duckdb.sql(
        f"SELECT term FROM read_parquet('{args.vocab}') ORDER BY idx").fetchall()], dtype=object)
    ranks = np.arange(1, len(terms) + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks)
    cdf /= cdf[-1]
    staged = stage(args, terms, cdf)
    now = time.time() * 1000
    publish(args, "backlog", staged["backlog"], lambda i: now)
    os.makedirs(os.path.join(args.watch, "paced"), exist_ok=True)
    touch(os.path.join(args.out, "staged"))
    deadline = time.time() + GO_TIMEOUT_S
    while not os.path.exists(args.go):
        if time.time() > deadline:
            raise SystemExit("timed out waiting for the system under test")
        time.sleep(0.005)
    t0 = time.time() * 1000 + args.tick_ms
    publish(args, "paced", staged["paced"], lambda i: t0 + i * args.tick_ms)
    touch(os.path.join(args.out, "done"))


if __name__ == "__main__":
    main()
