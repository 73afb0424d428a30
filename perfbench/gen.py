"""Seeded input generators for the four workloads, plus the sequential
interval reference the golden cases are checked against.

Every generator takes the run's ``--seed`` and a tag, so the same seed
always gives identical inputs, and returns the properties the run output
records (rows, groups, hot-group share, near-dup share, lateness, ...).
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa


def rng(seed, tag):
    """An independent, reproducible stream per (seed, tag)."""
    return np.random.default_rng([int(seed), zlib.crc32(tag.encode())])


# --------------------------------------------------------------- events

EVENT_TYPES = ["signup", "purchase", "click", "view", "error"]


def events(seed, tag, n, users, hot_share=0.25, null_share=0.1, zipf_s=1.2):
    """Events in the schema of the ``events`` table the library's named
    queries read (``SparkEntry``). One hot user holds
    ``hot_share`` of the rows; the others have Zipf-distributed sizes.
    ``event_type`` is NULL for about ``null_share`` of the rows."""
    r = rng(seed, tag)
    n_hot = int(n * hot_share)
    weights = 1.0 / np.arange(1, users) ** zipf_s
    counts = r.multinomial(n - n_hot, weights / weights.sum())
    labels = r.permutation(users).astype(np.int64)
    user_id = np.concatenate([np.full(n_hot, labels[0], np.int64),
                              np.repeat(labels[1:], counts)])
    user_id = user_id[r.permutation(n)]
    gaps = r.integers(1, 2_000_000, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    kind = r.integers(0, len(EVENT_TYPES), n)
    is_null = r.random(n) < null_share
    event_type = [None if z else EVENT_TYPES[k] for k, z in zip(kind, is_null)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id),
        "event_type": pa.array(event_type, pa.string()),
        "value": pa.array(np.round(r.uniform(0, 50, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })
    props = {"rows": n, "groups": int((counts > 0).sum()) + 1,
             "hot_group_share": round(n_hot / n, 4),
             "null_marker_share": round(float(is_null.mean()), 4)}
    return table, props


# ------------------------------------------------------------ documents

_SYLLABLES = ["ka", "to", "mi", "re", "sa", "lu", "po", "ne", "di", "va",
              "qu", "ber", "zan", "fi", "go", "hal"]
# content words: two- and three-syllable combinations, fixed for every seed
VOCAB = sorted({a + b for a in _SYLLABLES for b in _SYLLABLES} |
               {a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES[8:]
                for c in _SYLLABLES[:4]})
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
BOILERPLATE = [
    "all rights reserved copyright notice subscribe to our newsletter for more updates today",
    "click here to accept cookies and continue browsing this site with our privacy policy",
    "share this page on social media follow us for daily news and exclusive offers now",
]


def docs(seed, tag, n, near_dup_share=0.15, boiler_share=0.1,
         eval_overlap_share=0.03, markup_share=0.05, eval_every=50):
    """Documents with a language mix like the sf0.1 corpus, a controlled
    share of near-duplicate clusters (a base doc with ~8% of its tokens
    replaced), a boilerplate share (a shared footer), and an overlap with
    the eval split (doc_id % eval_every == 0): some docs copy a span of an
    eval doc."""
    r = rng(seed, tag)
    vocab = np.array(VOCAB)
    token_lists = []
    kinds = {"near_dup": 0, "boilerplate": 0, "eval_overlap": 0}
    originals = []
    for doc_id in range(n):
        u = r.random()
        if originals and u < near_dup_share:
            base = token_lists[originals[r.integers(0, len(originals))]]
            toks = list(base)
            for j in range(len(toks)):
                if r.random() < 0.08:
                    toks[j] = str(vocab[r.integers(0, len(vocab))])
            kinds["near_dup"] += 1
        else:
            length = int(r.integers(8, 90))
            toks = [STOPWORDS[r.integers(0, len(STOPWORDS))] if r.random() < 0.12
                    else str(vocab[r.integers(0, len(vocab))]) for _ in range(length)]
            originals.append(doc_id)
        evals = [d for d in range(0, doc_id, eval_every)]
        if doc_id % eval_every and evals and r.random() < eval_overlap_share:
            src = token_lists[evals[r.integers(0, len(evals))]]
            at = int(r.integers(0, max(1, len(src) - 6)))
            toks = toks + src[at:at + 6]
            kinds["eval_overlap"] += 1
        if r.random() < boiler_share:
            toks = toks + BOILERPLATE[r.integers(0, len(BOILERPLATE))].split()
            kinds["boilerplate"] += 1
        token_lists.append(toks)
    rows = []
    for doc_id, toks in enumerate(token_lists):
        words = list(toks)
        if r.random() < markup_share:
            j = int(r.integers(0, len(words)))
            words[j] = f"<b>{words[j].upper()}</b>"
        text = " ".join(words)
        rows.append({"doc_id": doc_id, "text": text,
                     "lang": LANGS[r.choice(len(LANGS), p=LANG_P)],
                     "source": f"src{doc_id % 20}", "n_chars": len(text)})
    props = {"rows": n}
    props.update({f"{k}_share": round(v / n, 4) for k, v in kinds.items()})
    langs = [row["lang"] for row in rows]
    props["lang_mix"] = {l: round(langs.count(l) / n, 4) for l in LANGS}
    return rows, props


def write_jsonl(rows, directory, shards=4):
    os.makedirs(directory, exist_ok=True)
    per = (len(rows) + shards - 1) // shards
    for s in range(shards):
        with open(os.path.join(directory, f"part-{s:05d}.jsonl"), "w") as fh:
            for row in rows[s * per:(s + 1) * per]:
                fh.write(json.dumps(row) + "\n")


# ------------------------------------------------- interval reference

def interval_ids(markers, start, end, start_first, end_first):
    """Enumerated interval ids of one group's markers, in order.

    Sequential: keep only start/end markers (everything else, NULL too, is
    noise), collapse each run of equal markers to its first or last one,
    then every collapsed start directly followed by a collapsed end spans
    an interval; intervals are numbered 1.. and other rows get 0."""
    picked = []
    run = []

    def flush():
        if run:
            first = start_first if run[0][1] else end_first
            picked.append(run[0] if first else run[-1])

    for i, m in enumerate(markers):
        if m is None or (m != start and m != end):
            continue
        is_start = m == start
        if run and run[0][1] != is_start:
            flush()
            run = []
        run.append((i, is_start))
    flush()
    ids = [0] * len(markers)
    count = 0
    k = 0
    while k < len(picked) - 1:
        (a, a_start), (b, b_start) = picked[k], picked[k + 1]
        if a_start and not b_start:
            count += 1
            for j in range(a, b + 1):
                ids[j] = count
            k += 2
        else:
            k += 1
    return ids


def grouped_ids(rows, start, end, start_first, end_first):
    """rows: (group, order, marker) -> expected id per row, same order."""
    by_group = {}
    for idx, (g, o, m) in enumerate(rows):
        by_group.setdefault(g, []).append((o, idx, m))
    out = [0] * len(rows)
    for members in by_group.values():
        members.sort()
        ids = interval_ids([m for _, _, m in members], start, end,
                           start_first, end_first)
        for (_, idx, _), iid in zip(members, ids):
            out[idx] = iid
    return out


# ---------------------------------------------------------------- cases

CONFIGS = [(False, True), (True, False), (True, True), (False, False)]


def cases(seed, tag, n):
    """``n`` tiny cases: 5-60 rows, 1-4 groups, the four span configs in
    turn, int or str markers, with NULLs and noise. Returns TSV lines
    carrying the reference's expected ids."""
    r = rng(seed, tag)
    lines = []
    total = 0
    for c in range(n):
        start_first, end_first = CONFIGS[c % 4]
        as_str = (c // 4) % 2 == 1
        start, end = ("s", "e") if as_str else (1, 2)
        noise = ["x", "y"] if as_str else [0, 3]
        n_rows = int(r.integers(5, 61))
        n_groups = int(r.integers(1, 5))
        rows = []
        orders = r.choice(n_rows * 3, n_rows, replace=False)
        for j in range(n_rows):
            u = r.random()
            m = (start if u < 0.25 else end if u < 0.5 else None if u < 0.62
                 else noise[r.integers(0, 2)])
            rows.append((int(r.integers(0, n_groups)), int(orders[j]), m))
        expected = grouped_ids(rows, start, end, start_first, end_first)
        for (g, o, m), iid in zip(rows, expected):
            lines.append("\t".join([
                f"c{c:04d}", str(int(start_first)), str(int(end_first)),
                "str" if as_str else "int", str(g), str(o),
                "\\N" if m is None else str(m), str(iid)]))
        total += n_rows
    return lines, {"cases": n, "rows": total}


def write_lines(lines, path):
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


# --------------------------------------------------------------- stream

def stream(seed, tag, batches, batch_size, groups, lateness, step_ms=10):
    """Time-ordered events (one every ``step_ms``; order = sequence
    number) whose arrival is delayed by up to ``lateness`` positions,
    split into micro-batches of ``batch_size`` arrivals. A watermark delay
    above ``lateness * step_ms`` drops nothing."""
    r = rng(seed, tag)
    n = batches * batch_size
    seq = np.arange(n)
    arrival = np.argsort(seq + r.integers(0, lateness + 1, n), kind="stable")
    group = r.integers(0, groups, n)
    kind = r.random(n)
    marker = np.where(kind < 0.2, "s", np.where(kind < 0.4, "e", "x"))
    lines = []
    late = 0
    for pos, i in enumerate(arrival):
        b = pos // batch_size
        late += int(i < pos and (i // batch_size) < b)
        lines.append(f"{b}\tg{group[i]:02d}\t{1000 + i * step_ms}\t{i}\t{marker[i]}")
    props = {"rows": n, "batches": batches, "groups": groups,
             "lateness_max_events": lateness,
             "late_arrivals_share": round(late / n, 4)}
    return lines, props
