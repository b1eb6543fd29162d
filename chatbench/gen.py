"""Seeded chat-corpus generator and expected-output model.

`generate(workload, seed, lists, out_dir)` writes the workload's input
parquet file(s) and `expected.json`: the published row count and content
digest that a correct pipeline must produce for these inputs, derived from
how each row was constructed, never by running the program under test.

Text is built from a synthetic consonant-vowel vocabulary that is screened
against the program's NSFW and refusal-phrase lists (passed in as `lists`),
so a base message trips no filter. Each planted row is built to trip exactly
one filter, or to carry one corruption that a cleaner undoes exactly.
Near-duplicate fates are computed with an independent MinHash model that
reproduces the reference hash family (sha1-32 token hashes, seed-42 numpy
permutations, word 5-gram shingles, 25 bands of 10 rows at threshold 0.7).
"""

import hashlib
import json
import os
import re
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A corpus smaller than Spark's 4 MB split floor would be one partition on
# one core; as a list of files it is one partition per file.
INPUT_FILES = 8

CONS = "bdfklmnprtvz"
VOWS = "aeiou"
# some non-ASCII members of the normalize_whitespace set (not U+0084, a C1
# control that fix_utf8_encoding maps first)
EXOTIC_WS = ["\u2002", "\u2003", "\u2005", "\u2008", "\u2009", "\u200a",
             "\u202f", "\u3000"]
COMPLETION = set(".!?*\"”~…']`);")
NSFW_PLANTS = ["porn", "nude", "xxx", "boobs"]
ETHICS_PLANTS = ["as an ai language model", "ethical guidelines",
                 "cannot provide information"]

# Per-workload planting rates (share of assistant messages unless noted).
RATES = {
    "clean_filter": {
        "assistant_messages": 3_000,
        "mojibake": 0.03, "exotic_ws": 0.03, "unicode_punct": 0.03,
        "empty_lines": 0.03, "too_short": 0.02, "no_terminal": 0.02,
        "char_repetition": 0.015, "uppercase": 0.02, "nsfw": 0.015,
        "ethics": 0.015, "shouted_instruction": 0.02,
        "near_dup_members": 0.02,
    },
    "dedup_batch": {
        "assistant_messages": 2_000,
        "near_dup_members": 0.25, "decoy_pairs": 0.03, "exact_dups": 0.03,
        "short_docs": 0.01, "exotic_ws": 0.02, "shouted_instruction": 0.01,
    },
}

MERSENNE = np.uint64((1 << 61) - 1)
MAX_HASH = np.uint64((1 << 32) - 1)
NUM_PERM, BANDS, ROWS = 256, 25, 10
NGRAM, MIN_NGRAM = 5, 5
_rs = np.random.RandomState(seed=42)
_perm = np.array([(_rs.randint(1, (1 << 61) - 1, dtype=np.uint64),
                   _rs.randint(0, (1 << 61) - 1, dtype=np.uint64))
                  for _ in range(NUM_PERM)], dtype=np.uint64).T
PERM_A = _perm[0][:BANDS * ROWS]
PERM_B = _perm[1][:BANDS * ROWS]
NON_ALPHA = re.compile(r"[^A-Za-z_0-9]")
WORD = re.compile(r"\w+")


# ---------------------------------------------------------------- model

def word_count(s):
    return len(WORD.findall(s))


def lowercase_ratio(s):
    if not s:
        return 0.0
    return sum(1 for c in s if "a" <= c <= "z") / len(s)


def passes_response_filters(clean, lo=5, hi=128, lower=0.75):
    """The response filters a base or planted row can meet. Char
    repetition, NSFW and ethics are decided by construction: base rows
    repeat no word and use a screened vocabulary, planted rows are marked
    dropped where they are built."""
    s = clean.strip()
    return (lo <= word_count(s) <= hi and s != "" and s[-1] in COMPLETION
            and lowercase_ratio(s) >= lower)


def row_digest(conv, source):
    canon = "\x02".join(f"{r}\x01{'1' if t else '0'}\x01{c}"
                        for c, t, r in conv) + "\x03" + source
    return int(hashlib.md5(canon.encode("utf-8")).hexdigest()[:15], 16)


def band_keys(text):
    """MinHash band keys of a document, as the reference computes them."""
    parts = NON_ALPHA.split(text)
    if len(parts) < MIN_NGRAM:
        return None  # all-MAX signature: one shared short-doc cluster
    toks = {" ".join(parts[i:i + NGRAM])
            for i in range(len(parts) - NGRAM + 1)}
    h = np.array([int.from_bytes(hashlib.sha1(t.encode("utf-8"))
                                 .digest()[:4], "little") for t in toks],
                 dtype=np.uint64)
    with np.errstate(over="ignore"):
        v = ((h[:, None] * PERM_A[None, :] + PERM_B[None, :]) % MERSENNE) \
            & MAX_HASH
    sig = v.min(axis=0)
    return [(b, sig[b * ROWS:(b + 1) * ROWS].tobytes())
            for b in range(BANDS)]


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        p = self.p
        p.setdefault(x, x)
        root = x
        while p[root] != root:
            root = p[root]
        while p[x] != root:
            p[x], x = root, p[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def keep_first(texts):
    """Keep-first near-dedup over `texts` (a list in id order; None for
    rows the model knows are singletons): index set of removed rows."""
    uf, buckets, short = UnionFind(), {}, None
    for i, t in enumerate(texts):
        if t is None:
            continue
        ks = band_keys(t)
        if ks is None:
            short = i if short is None else short
            uf.union(short, i)
            continue
        for k in ks:
            j = buckets.setdefault(k, i)
            if j != i:
                uf.union(j, i)
    return {i for i in uf.p if uf.find(i) != i}


# ------------------------------------------------------------ generator

class Text:
    def __init__(self, rng, lists, vocab_size=20_000):
        needles = [n.lower() for n in lists["nsfw"] + lists["ethics"]]
        c, v = f"[{CONS}]", f"[{VOWS}]"
        word_suffix = re.compile(f"{v}?(?:{c}{v})*")
        word = re.compile(f"(?:{c}{v})+")
        word_prefix = re.compile(f"(?:{c}{v})*{c}?")
        # a needle that can span words ("date rape") is excluded by
        # banning every word that could end its first piece
        spans = [p[0] for p in (nd.split(" ") for nd in needles)
                 if len(p) > 1 and word_suffix.fullmatch(p[0])
                 and word_prefix.fullmatch(p[-1])
                 and all(word.fullmatch(x) for x in p[1:-1])]
        syll = [c + v for c in CONS for v in VOWS]
        words, seen = [], set()
        while len(words) < vocab_size:
            w = "".join(syll[rng.integers(0, len(syll))]
                        for _ in range(rng.integers(2, 5)))
            if w in seen or any(nd in w for nd in needles) or \
                    any(w.endswith(sp) for sp in spans):
                continue
            seen.add(w)
            words.append(w)
        self.words = words
        rank = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = 1.0 / (rank + 2.7)
        self.rng = rng
        rng.cdf = np.cumsum(p / p.sum())

    def ids(self, n, unique=True):
        draw = self.rng.words(3 * n + 8)
        if not unique:
            return draw[:n]
        out = list(dict.fromkeys(draw))
        while len(out) < n:
            out = list(dict.fromkeys(out + [self.rng.integers(
                0, len(self.words)) for _ in range(n)]))
        return out[:n]

    def render(self, ids, end="."):
        """Sentences of 5-14 words, capitalized, some commas."""
        w = [self.words[i] for i in ids]
        out, i, rng = [], 0, self.rng
        while i < len(w):
            k = rng.integers(5, 15)
            sent = w[i:i + k]
            i += k
            if len(sent) > 4 and rng.random() < 0.3:
                c = rng.integers(1, len(sent) - 1)
                sent[c] += ","
            s = " ".join(sent)
            term = end if i >= len(w) else ("?" if rng.random() < 0.1 else ".")
            out.append(s[0].upper() + s[1:] + term)
        return " ".join(out)

    def lognormal_words(self, mu, sigma, lo=1, hi=400):
        return int(min(hi, max(lo, round(self.rng.lognormal(mu, sigma)))))



_NORMAL = NormalDist()


class Draws:
    """Buffered draws from one seeded generator: numpy call overhead per
    scalar would dominate generation time."""

    def __init__(self, rng, chunk=1 << 20):
        self.rng, self.chunk = rng, chunk
        self.cdf = None
        self._u, self._w = [], []
        self._strata = {}

    def _take(self, buf, k, fill):
        while len(buf) < k:
            buf.extend(reversed(fill().tolist()))
        out = buf[-k:][::-1]
        del buf[-k:]
        return out

    def random(self):
        return self._take(self._u, 1, lambda: self.rng.random(self.chunk))[0]

    def integers(self, lo, hi=None):
        lo, hi = (0, lo) if hi is None else (lo, hi)
        return lo + int(self.random() * (hi - lo))

    def strat(self, key, block=64):
        """A uniform draw stratified per call site: each run of `block`
        draws of one key has one value in each of `block` equal strata, so
        totals (words, turns, planted counts) barely vary between seeds
        while every row still does."""
        pool = self._strata.get(key)
        if not pool:
            pool = [(i + self.random()) / block
                    for i in self.permutation(block)]
            self._strata[key] = pool
        return pool.pop()

    def sint(self, key, lo, hi):
        return lo + int(self.strat(key) * (hi - lo))

    def lognormal(self, mu, sigma):
        z = _NORMAL.inv_cdf(min(max(self.strat((mu, sigma)), 1e-9),
                                1 - 1e-9))
        return float(np.exp(mu + sigma * z))

    def words(self, k):
        return self._take(self._w, k, lambda: np.minimum(
            np.searchsorted(self.cdf, self.rng.random(self.chunk)),
            len(self.cdf) - 1))

    def permutation(self, n):
        return self.rng.permutation(n).tolist()


def plant(kind, clean, text, rng):
    """(raw, clean, dropped) for one planted corruption or filter trip."""
    if kind == "mojibake":
        ws = clean.split(" ")
        cand = [i for i, x in enumerate(ws) if x.endswith("e")]
        for i in cand[:3]:
            ws[i] = ws[i][:-1] + "é"
        c = " ".join(ws)
        return c.replace("é", "Ã©"), c, False
    if kind == "exotic_ws":
        ws = clean.split(" ")
        raw = ws[0]
        for x in ws[1:]:
            raw += (EXOTIC_WS[int(rng.integers(len(EXOTIC_WS)))]
                    if rng.random() < 0.2 else " ") + x
        return raw, clean, False
    if kind == "unicode_punct":
        raw = clean.replace(", ", "， ")
        raw = raw[:-1] + "。" if raw.endswith(".") else raw
        return raw, clean, False
    if kind == "empty_lines":
        parts = clean.split(". ")
        c = ".\n".join(parts)
        raw = c.replace("\n", "\n\n" if rng.random() < 0.5 else "\n \n")
        return raw, c, False
    if kind == "too_short":
        c = text.render(text.ids(int(rng.integers(1, 5))))
        return c, c, True
    if kind == "no_terminal":
        c = clean.rstrip(".?!")
        return c, c, True
    if kind == "char_repetition":
        c = text.render(text.ids(8))[:-1] + " " + "la" * 40 + "."
        return c, c, True
    if kind == "uppercase":
        return clean.upper(), clean.upper(), True
    if kind == "nsfw":
        ws = text.render(text.ids(30)).split(" ")
        for nd in NSFW_PLANTS[:3]:
            ws.insert(int(rng.integers(1, len(ws))), nd)
        c = " ".join(ws)
        return c, c, True
    if kind == "ethics":
        ws = text.render(text.ids(20)).split(" ")
        ph = ETHICS_PLANTS[int(rng.integers(len(ETHICS_PLANTS)))]
        ws.insert(int(rng.integers(1, len(ws))), ph)
        c = " ".join(ws)
        return c, c, True
    raise ValueError(kind)


def swap_word(token, word):
    """Replace the word in a rendered token, keeping case and punctuation."""
    m = re.match(r"([A-Za-z]+)(.*)", token)
    if m is None:
        return token
    return (word.capitalize() if token[0].isupper() else word) + m.group(2)


def near_dup(s, text, rng):
    """A variant at word-5-gram Jaccard >= 0.95: a word added at the
    start and/or a one-word sentence added at the end."""
    fresh = text.words[text.rng.integers(len(text.words))]
    op = rng.integers(3)
    if op != 1:
        s = fresh.capitalize() + " " + s
    if op != 0:
        s = s + " " + text.words[text.rng.integers(len(text.words))] \
            .capitalize() + "."
    return s


def decoy(s, text, rng):
    """A variant at word-5-gram Jaccard ~0.5: every 15th word replaced."""
    toks = s.split(" ")
    for pos in range(7, len(toks), 15):
        toks[pos] = swap_word(toks[pos],
                              text.words[rng.integers(len(text.words))])
    return " ".join(toks)


def zipf_sizes(total, cap=300, a=2.0):
    """Cluster sizes 2..cap, Zipf(a) distributed, at evenly spaced
    quantiles: the same multiset for every seed, from pairs to a
    few-hundred-member cluster, summing to `total`."""
    sizes_ = np.arange(2, cap + 1)
    cdf = np.cumsum(sizes_ ** -a) / np.sum(sizes_ ** -a)
    k = 1
    while True:
        q = sizes_[np.minimum(np.searchsorted(cdf, (np.arange(k) + 0.5) / k),
                              len(sizes_) - 1)]
        if q.sum() >= total:
            break
        k += 1
    out = sorted(q.tolist())
    while sum(out) > total:
        out[-1] -= 1
        out.sort()
    return [x for x in out if x >= 2]


# ------------------------------------------------------------- writers

MSG = pa.struct([("content", pa.string()), ("do_train", pa.bool_()),
                 ("role", pa.string())])
SCHEMA = pa.schema([("conversation", pa.list_(MSG)), ("source", pa.string())])


def write_convs(convs, out_dir, files=INPUT_FILES):
    """The corpus as `files` parquet files of consecutive conversations
    (input-0.parquet, ...): one scan partition each, in this order."""
    total, per = 0, (len(convs) + files - 1) // files
    for f in range(files):
        part = convs[f * per:(f + 1) * per]
        path = os.path.join(out_dir, f"input-{f}.parquet")
        pq.write_table(pa.table({
            "conversation": [[{"content": c, "do_train": t, "role": r}
                              for c, t, r in conv] for conv, _ in part],
            "source": [src for _, src in part]}, schema=SCHEMA), path)
        total += os.path.getsize(path)
    return total


class Corpus:
    """Conversations plus the model's view of each assistant message."""

    def __init__(self):
        self.convs = []  # ([(content, do_train, role)], source)
        self.rows = []   # per assistant message, in explode order

    def add(self, msgs, source):
        """msgs: [(role, raw, clean_or_None, dropped_by_construction)]."""
        conv = []
        for role, raw, clean, dropped in msgs:
            if role == "Assistant":
                instr = conv[-1][0].strip() if conv else ""
                self.rows.append({
                    "prefix": [(c, False, r) for c, _, r in conv],
                    "clean": clean, "dropped": dropped,
                    "instruction": instr, "source": source})
            conv.append((raw, role == "Assistant", role))
        self.convs.append((conv, source))

    def survivors_before_dedup(self):
        return [not r["dropped"] and passes_response_filters(r["clean"])
                for r in self.rows]

    def expected(self, kept_after_dedup):
        n, dig = 0, 0
        for r, k in zip(self.rows, kept_after_dedup):
            if not k or lowercase_ratio(r["instruction"]) < 0.55:
                continue
            n += 1
            dig += row_digest(r["prefix"] + [(r["clean"], True, "Assistant")],
                              r["source"])
        return n, str(dig)


def _messages(text, rng, n_pairs, assistant, system_p=0.3):
    msgs = []
    if rng.strat("system") < system_p:
        s = text.render(text.ids(text.lognormal_words(2.8, 0.4, 5, 40),
                                 unique=False))
        msgs.append(("System", s, None, False))
    for _ in range(n_pairs):
        u = text.render(text.ids(text.lognormal_words(2.4, 0.6, 3, 80),
                                 unique=False))
        msgs.append(("User", u, None, False))
        msgs.append(("Assistant",) + assistant())
    return msgs


def gen_clean_filter(rng, text):
    r = RATES["clean_filter"]
    kinds = ["mojibake", "exotic_ws", "unicode_punct", "empty_lines",
             "too_short", "no_terminal", "char_repetition", "uppercase",
             "nsfw", "ethics"]
    probs = np.array([r[k] for k in kinds])
    corpus = Corpus()
    cluster_pool, planted = [], []
    made = 0

    def assistant():
        nonlocal made
        made += 1
        u = rng.strat("near_dup")
        if u < r["near_dup_members"] and cluster_pool:
            cid, tmpl = cluster_pool[int(rng.integers(len(cluster_pool)))]
            v = near_dup(tmpl, text, rng)
            planted.append((v, cid))
            return v, v, False
        ids = text.ids(text.lognormal_words(3.6, 0.65, 2, 400))
        clean = text.render(ids)
        if u < r["near_dup_members"] + 0.002 and 40 <= len(ids) <= 120:
            cluster_pool.append((len(cluster_pool), clean))
            planted.append((clean, len(cluster_pool) - 1))
            return clean, clean, False
        k = np.searchsorted(np.cumsum(probs), rng.strat("plant"))
        if k < len(kinds):
            return plant(kinds[k], clean, text, rng)
        return clean, clean, False

    while made < r["assistant_messages"]:
        msgs = _messages(text, rng, rng.sint("pairs", 1, 7), assistant)
        msgs = [(role, raw.upper() if role == "User" and
                 rng.strat("shout") < r["shouted_instruction"] else raw, c, d)
                for role, raw, c, d in msgs]
        corpus.add(msgs, f"chatbench/clean_filter/{len(corpus.convs) % 7}")
    keep = corpus.survivors_before_dedup()
    return corpus, keep, planted


def gen_dedup_batch(rng, text):
    r = RATES["dedup_batch"]
    n = r["assistant_messages"]
    # which assistant message (in explode order) plays which part
    members = zipf_sizes(int(n * r["near_dup_members"]))
    slots = rng.permutation(n)
    cursor = 0
    clusters = []
    for cid, size in enumerate(members):
        clusters.append(slots[cursor:cursor + size])
        cursor += size
    decoys = []
    for _ in range(int(n * r["decoy_pairs"] / 2)):
        decoys.append(slots[cursor:cursor + 2])
        cursor += 2
    exacts = []
    for _ in range(int(n * r["exact_dups"] / 2)):
        exacts.append(slots[cursor:cursor + 2])
        cursor += 2
    shorts = slots[cursor:cursor + int(n * r["short_docs"])]
    cursor += len(shorts)
    texts = [None] * n
    planted = []
    for cid, idx in enumerate(clusters):
        order = sorted(idx)
        texts[order[0]] = text.render(text.ids(rng.sint("len", 60, 116)))
        for i in order[1:]:
            texts[i] = near_dup(texts[order[0]], text, rng)
        planted += [(texts[i], cid) for i in order]
    for a, b in decoys:
        texts[a] = text.render(text.ids(rng.sint("len", 60, 116)))
        texts[b] = decoy(texts[a], text, rng)
    for cid, (a, b) in enumerate(exacts, start=len(clusters)):
        texts[a] = texts[b] = text.render(text.ids(rng.sint("len", 40, 116)))
        planted += [(texts[a], cid), (texts[b], cid)]
    for i in shorts:
        texts[i] = text.render(text.ids(int(rng.integers(1, 4))))
    modelled = {i for g in clusters + decoys + exacts for i in g} | set(shorts)
    corpus = Corpus()
    pos = 0

    def assistant():
        nonlocal pos
        i = pos
        pos += 1
        if texts[i] is None:
            texts[i] = text.render(text.ids(rng.sint("len", 50, 126)))
        clean = texts[i]
        if i not in modelled and rng.strat("exotic_ws") < r["exotic_ws"]:
            return plant("exotic_ws", clean, text, rng)
        return clean, clean, False

    while pos < n:
        k = min(rng.sint("pairs", 1, 3), n - pos)
        msgs = _messages(text, rng, k, assistant, system_p=0.2)
        msgs = [(role, raw.upper() if role == "User" and
                 rng.strat("shout") < r["shouted_instruction"] else raw, c, d)
                for role, raw, c, d in msgs]
        corpus.add(msgs, f"chatbench/dedup_batch/{len(corpus.convs) % 5}")
    alive = corpus.survivors_before_dedup()
    # ids are assigned over the rows that survive the response filters
    order = [i for i in range(n) if alive[i]]
    removed = keep_first([texts[i] if i in modelled else None
                          for i in order])
    dropped = {order[j] for j in removed}
    keep = [alive[i] and i not in dropped for i in range(n)]
    return corpus, keep, planted


def generate(workload, seed, lists, out_dir):
    """Write inputs + expected.json for (workload, seed) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(RATES).index(workload)])
    rng = Draws(rng)
    text = Text(rng, lists)
    gen = gen_clean_filter if workload == "clean_filter" else gen_dedup_batch
    corpus, keep, planted = gen(rng, text)
    rows, digest = corpus.expected(keep)
    nbytes = write_convs(corpus.convs, out_dir)
    exp = {"rows": rows, "digest": digest,
           "input_rows": len(corpus.convs),
           "input_messages": sum(len(c) for c, _ in corpus.convs),
           "input_bytes": nbytes}
    pq.write_table(pa.table({"text": [t for t, _ in planted],
                             "cluster": [c for _, c in planted]}),
                   os.path.join(out_dir, "planted.parquet"))
    exp.update({"workload": workload, "seed": seed,
                "rates": RATES[workload]})
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1)
    return exp
