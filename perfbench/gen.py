"""Seeded input generators for the three benchmark workloads.

Each generator takes the seed and a size, writes the tables the program
reads (parquet) plus the expected results it derives from what it planted
(TSV), never from the program's own parse, route or dedup code. The same
(workload, seed, size) always yields byte-identical files; `checksum` hashes
them so a result records exactly which bytes it read.
"""

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["bash", "search", "editor", "browser"])
SINKS = ("all", "tool_calls", "errors", "fallback")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


FILES = 32


def _write(table, path):
    """A table as FILES parquet files under `path`. Spark gives each small
    file a scan task of its own, so the scan stage has many short tasks and
    a thread slowed by the host delays a pass by one short task, not by a
    quarter of the input."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(FILES):
        lo, hi = n * i // FILES, n * (i + 1) // FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, "part-%02d.parquet" % i),
                       compression="snappy")


def _routes(tool_call, status_err, ok_false, has_error_word):
    """Sink flags from what the generator planted: `tool_calls` is a final
    path, `errors` sees only what `tool_calls` did not take, `fallback`
    gets rows no counting path matched (`all` counts for nothing)."""
    errors = ~tool_call & (status_err | ok_false | has_error_word)
    fallback = ~tool_call & ~errors
    return tool_call, errors, fallback


# --------------------------------------------------------------- turns_agg

PROSE = ("the build finished and the report is ready",
         "please summarise the last three messages",
         "an Error was raised while reading the config",
         "retrying the request after a short pause",
         "no ERROR lines in the log since yesterday",
         "thanks, that looks right to me")
PROSE_ERR = np.array(["error" in p.lower() for p in PROSE])


def turns(seed, n, out):
    """Transcript table (conv_id, turn_idx, role, text, tool, ts) of about
    `n` turns and the expected per-(sink, role, tool, hour) counts."""
    rng = np.random.default_rng(seed)
    conv_len = np.minimum(rng.zipf(1.6, size=n // 4) + 1, 400)
    conv_len = conv_len[np.cumsum(conv_len) <= n]
    n = int(conv_len.sum())
    conv = np.repeat(np.arange(len(conv_len)), conv_len)
    starts = np.repeat(np.cumsum(conv_len) - conv_len, conv_len)
    turn_idx = np.arange(n) - starts
    role_i = rng.choice(4, size=n, p=[0.3, 0.3, 0.1, 0.3])
    is_tool = role_i == 3
    tool_i = rng.integers(0, 4, size=n)
    # kind: 0 syslog, 1 kv, 2 json, 3 csv, 4 prose, 5 corrupt
    kind = np.where(is_tool, rng.choice(6, size=n, p=[0.1, 0.6, 0.1, 0.1, 0.05, 0.05]),
                    rng.choice(6, size=n, p=[0.25, 0.1, 0.25, 0.15, 0.2, 0.05]))
    status_i = rng.choice(3, size=n, p=[0.8, 0.1, 0.1])  # ok, error, fail
    ok_false = rng.random(n) < 0.2
    kv_is_call = rng.random(n) < 0.8
    prose_i = rng.integers(0, len(PROSE), size=n)
    num = rng.integers(0, 5000, size=n)
    hours = 480
    secs = rng.integers(0, hours * 3600, size=n)

    status = np.array(["ok", "error", "fail"])[status_i]
    texts = []
    for i in range(n):
        k = kind[i]
        if k == 0:
            t = EPOCH + dt.timedelta(seconds=int(secs[i]))
            texts.append("<%d>%s %2d %02d:%02d:%02d host-%d prog-%d[%d]: action=%s status=%s" % (
                num[i] % 192, MONTHS[t.month - 1], t.day, t.hour, t.minute, t.second,
                num[i] % 10, num[i] % 6, 100 + num[i] % 900,
                ("login", "read", "write", "exec")[num[i] % 4], status[i]))
        elif k == 1:
            texts.append("event=%s tool=%s duration_ms=%d ok=%s" % (
                "tool_call" if kv_is_call[i] else "tool_result",
                TOOLS[tool_i[i]] if is_tool[i] else "none", num[i],
                "false" if ok_false[i] else "true"))
        elif k == 2:
            texts.append('{"event":"turn","role":"%s","tokens":%d,"status":"%s"}' % (
                ROLES[role_i[i]], num[i], status[i]))
        elif k == 3:
            texts.append("conv-%06d,%d,%s,%d" % (conv[i], turn_idx[i], ROLES[role_i[i]], num[i]))
        elif k == 4:
            texts.append(PROSE[prose_i[i]])
        else:
            texts.append("~~CORRUPT#%d##" % num[i])

    tool_call = is_tool & (kind == 1) & kv_is_call
    status_err = np.isin(kind, (0, 2)) & (status_i > 0)
    okf = (kind == 1) & ok_false
    err_word = ((kind == 4) & PROSE_ERR[prose_i]) | (np.isin(kind, (0, 2)) & (status_i == 1))
    flags = (np.ones(n, dtype=bool),) + _routes(tool_call, status_err, okf, err_word)

    ts = np.datetime64(EPOCH) + secs.astype("timedelta64[s]") + \
        rng.integers(0, 10**6, size=n).astype("timedelta64[us]")
    tool_col = pa.array(np.where(is_tool, TOOLS[tool_i], None).tolist(), pa.string())
    table = pa.table({
        "conv_id": pa.array(np.char.add("conv-", np.char.zfill(conv.astype(str), 6))),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(ROLES[role_i]),
        "text": pa.array(texts, pa.string()),
        "tool": tool_col,
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
    })
    _write(table, os.path.join(out, "turns.parquet"))

    # expected aggregate: key = (sink, role, tool or 'none', hour index)
    tool_key = np.where(is_tool, tool_i, 4)
    hour = secs // 3600
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        for s, flag in zip(SINKS, flags):
            key = (role_i[flag] * 5 + tool_key[flag]) * hours + hour[flag]
            ks, cs = np.unique(key, return_counts=True)
            for k, c in zip(ks, cs):
                r, rest = divmod(int(k), 5 * hours)
                t, h = divmod(rest, hours)
                f.write("%s\t%s\t%s\t%d\t%d\n" % (
                    s, ROLES[r], TOOLS[t] if t < 4 else "none", h, c))
    return n


# ------------------------------------------------------------- turns_sinks

def events(seed, n, out):
    """`events` (event_id, ts, user_id) with Zipf-skewed conversation
    lengths, and the expected per-sink counts of the transcripts the
    program derives from it (Transcripts.load's fixed derivation: the turn
    index is the rank of event_id within user_id)."""
    rng = np.random.default_rng(seed)
    conv_len = np.minimum(rng.zipf(1.6, size=n) + 1, 2000)
    conv_len = conv_len[:np.searchsorted(np.cumsum(conv_len), n) + 1]
    users = rng.permutation(np.repeat(np.arange(len(conv_len)), conv_len))[:n]
    e = np.arange(n, dtype=np.int64)
    secs = np.sort(rng.integers(0, 480 * 3600, size=n))
    ts = np.datetime64(EPOCH) + secs.astype("timedelta64[s]")
    order = np.lexsort((e, users))
    rank = np.empty(n, dtype=np.int64)
    su = users[order]
    first = np.r_[True, su[1:] != su[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    rank[order] = np.arange(n) - grp_start
    is_tool = rank % 4 == 3
    variant = np.where(e % 97 == 0, 4, e % 4)
    status_i = np.where(e % 7 == 0, 1, np.where(e % 7 == 1, 2, 0))
    ok_false = e % 3 == 0
    tool_call = is_tool & (variant == 1)
    status_err = np.isin(variant, (0, 2)) & (status_i > 0)
    okf = (variant == 1) & ok_false
    err_word = (variant == 0) & (status_i == 1) | (variant == 2) & (status_i == 1)
    flags = (np.ones(n, dtype=bool),) + _routes(tool_call, status_err, okf, err_word)
    table = pa.table({
        "event_id": pa.array(e),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
    })
    _write(table, os.path.join(out, "events.parquet"))
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        for s, flag in zip(SINKS, flags):
            f.write("%s\t%d\n" % (s, int(flag.sum())))
    return n


# ----------------------------------------------------------- corpus_curate

def _vocab(rng, n, alphabet):
    lens = rng.integers(3, 9, size=n)
    letters = np.array(list(alphabet))
    words = {"".join(rng.choice(letters, size=l)) for l in lens}
    return np.array(sorted(words))


def documents(seed, n, out):
    """Documents (doc_id, text, url, lang) with planted groups: exact
    duplicates, near duplicates (one word edited per copy), one viral exact group,
    duplicate URLs (same page under tracking parameters, case and trailing
    slash), and two languages. Writes group.tsv: doc_id -> planted group;
    every group (singletons included) must keep exactly one document
    through URL and near-duplicate dedup."""
    rng = np.random.default_rng(seed)
    vocab = {"en": _vocab(rng, 4000, "etaoinshrdlucmfwyp"),
             "de": _vocab(rng, 4000, "enisratdhulcgmobwfkz")}
    docs = []  # (text, url, lang, group)
    group = 0

    def fresh(lang):
        return list(rng.choice(vocab[lang], size=int(rng.integers(60, 100))))

    def url(g, k):
        return "https://site%d.example/page/%d/%d" % (g % 997, g, k)

    n_viral = max(20, n // 50)
    while len(docs) < n:
        lang = "en" if rng.random() < 0.7 else "de"
        r = rng.random()
        if group == 0:
            words = " ".join(fresh(lang))
            docs += [(words, url(group, k), lang, group) for k in range(n_viral)]
        elif r < 0.08:  # exact-duplicate group
            words = " ".join(fresh(lang))
            docs += [(words, url(group, k), lang, group)
                     for k in range(int(rng.integers(2, 6)))]
        elif r < 0.16:  # near-duplicate group: each copy edits one word
            base = fresh(lang)
            for k in range(int(rng.integers(2, 5))):
                w = list(base)
                w[int(rng.integers(len(w)))] = rng.choice(vocab[lang])
                docs.append((" ".join(w if k else base), url(group, k), lang, group))
        elif r < 0.22:  # duplicate URLs: distinct texts, one canonical page
            u = url(group, 0)
            variants = (u, u + "/", u.replace("https://", "https://WWW."),
                        u + "?utm_source=feed", u + "#top")
            for k in range(int(rng.integers(2, 5))):
                docs.append((" ".join(fresh(lang)), variants[k], lang, group))
        else:
            docs.append((" ".join(fresh(lang)), url(group, 0), lang, group))
        group += 1
    perm = rng.permutation(len(docs))
    docs = [docs[i] for i in perm]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array([d[0] for d in docs]),
        "url": pa.array([d[1] for d in docs]),
        "lang": pa.array([d[2] for d in docs]),
    })
    _write(table, os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "groups.tsv"), "w") as f:
        for i, d in enumerate(docs):
            f.write("%d\t%d\n" % (i, d[3]))
    return len(docs)


GENERATORS = {"turns_agg": turns, "turns_sinks": events, "corpus_curate": documents}


def checksum(directory):
    """sha256 over every generated file, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(directory)):
        dirs.sort()
        for name in sorted(files):
            if name != "meta.json":
                h.update(os.path.relpath(os.path.join(root, name), directory).encode())
                with open(os.path.join(root, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()
