"""Seeded corpus generator and a plain model of the reference algorithm.

The generator writes a manifest corpus in the reference's format (first line
N, then N relative paths; the 1-based line position is the document id).
Its vocabulary is Zipf-shaped like the reference corpus (about 33 k distinct
words per million tokens) and it also emits every tokenizer case of
FIXTURES.md section 4: digits, contractions, hyphens, UTF-8 accents,
underscores and tokens that are empty after cleaning. No cleaned word starts
with 'x', so the x bucket is always empty.

The model never looks at engine output. It re-reads the generated files,
tokenizes them by the reference rule (whitespace split, byte-wise lowercase,
delete every byte outside [a-z], drop empties) and derives from that the
26 letter files of an index build, the merged snapshot of a delta merge and
the result of every AND/OR query.
"""

import bisect
import hashlib
import itertools
import os
import random

# Word-initial letter frequencies of English text, 'x' left out on purpose:
# the x bucket stays empty and so exercises the empty-file rule.
INITIAL = {
    "t": 16.0, "a": 11.7, "o": 7.6, "s": 7.8, "w": 5.5, "c": 5.2, "b": 4.4,
    "p": 4.3, "h": 4.2, "f": 4.0, "m": 3.8, "d": 3.2, "r": 2.8, "l": 2.4,
    "e": 2.0, "n": 1.6, "g": 1.6, "i": 3.9, "u": 1.2, "v": 0.8, "y": 0.8,
    "j": 0.5, "k": 0.6, "q": 0.2, "z": 0.05,
}
BODY = {
    "e": 12.7, "t": 9.1, "a": 8.2, "o": 7.5, "i": 7.0, "n": 6.7, "s": 6.3,
    "h": 6.1, "r": 6.0, "d": 4.3, "l": 4.0, "c": 2.8, "u": 2.8, "m": 2.4,
    "w": 2.4, "f": 2.2, "g": 2.0, "y": 2.0, "p": 1.9, "b": 1.5, "v": 1.0,
    "k": 0.8, "j": 0.15, "x": 0.15, "q": 0.1, "z": 0.07,
}
# Tokens that clean to nothing: numbers, punctuation, multibyte-only text.
EMPTY_TOKENS = ["42", "1999", "7", "--", "...", "—", "«»", "ñ", "éè", "#", "(1)"]
ACCENTED = ["café", "naïve", "résumé", "CAFÉs", "façade", "piñata"]
NON_AZ = bytes(b for b in range(256) if not (ord("a") <= b <= ord("z")))


def clean_bytes(raw):
    """The reference tokenizer for one whitespace-split token, as bytes."""
    return raw.lower().translate(None, NON_AZ).decode("ascii")


def clean(raw):
    return clean_bytes(raw.encode("utf-8"))


def vocabulary(rng, size):
    """`size` distinct pseudo-words of [a-z], none starting with 'x'."""
    initials, init_w = zip(*INITIAL.items())
    letters, body_w = zip(*BODY.items())
    init_cum, body_cum = list(itertools.accumulate(init_w)), list(itertools.accumulate(body_w))
    seen, words = set(), []
    while len(words) < size:
        b = size - len(words)
        lens = [min(14, max(2, int(rng.lognormvariate(1.75, 0.38)))) for _ in range(b)]
        firsts = rng.choices(initials, cum_weights=init_cum, k=b)
        body = "".join(rng.choices(letters, cum_weights=body_cum, k=sum(lens) - b))
        at = 0
        for n, c in zip(lens, firsts):
            w = c + body[at:at + n - 1]
            at += n - 1
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def surface_forms(rng, words, zipf_s):
    """Raw token forms with cumulative weights.

    Each vocabulary word appears plain, capitalized and with trailing
    punctuation; a small share of extra forms covers the tokenizer cases.
    """
    forms, weights = [], []
    for r, w in enumerate(words):
        base = 1.0 / (r + 2.7) ** zipf_s
        for form, share in ((w, 0.80), (w.capitalize(), 0.08), (w + ",", 0.07), (w + ".", 0.05)):
            forms.append(form)
            weights.append(base * share)
    total = sum(weights)
    special = 0.012 * total  # about 1.2 % of all tokens
    extra = list(EMPTY_TOKENS) + list(ACCENTED) + ["don't", "can't", "it's", "won't", "3rd", "4th",
                                                    "abc123", "abc123def", "a_b_c", "snake_case",
                                                    "well-known", '"quoted"', "hello,"]
    head = words[:400]
    for _ in range(120):
        a, b = rng.choice(head), rng.choice(words)
        extra.append(rng.choice([f"{a}-{b}", f"{a}'s", f"{a}n't", f"{a}_{b}", f"{a}{rng.randint(0, 99)}",
                                 f"{rng.randint(1, 9)}{b}", f"{a.capitalize()}-{b.upper()}"]))
    for e in extra:
        forms.append(e)
        weights.append(special / len(extra))
    return forms, list(itertools.accumulate(weights))


def language(rng, vocab, zipf_s):
    """The raw token forms and cumulative weights a corpus is drawn from."""
    return surface_forms(rng, vocabulary(rng, vocab), zipf_s)


def write_corpus(out_dir, rng, lang, docs, tokens, sub="docs", first_id=1):
    """Write `docs` documents totalling about `tokens` tokens of `lang`, and
    their manifest.

    Returns the manifest path. Paths in the manifest are relative to
    `out_dir`, as the engine resolves them against the manifest's directory.
    """
    forms, cum = lang
    lens = [rng.lognormvariate(0.0, 0.6) for _ in range(docs)]
    scale = tokens / sum(lens)
    os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    rels = []
    for i, ln in enumerate(lens):
        n = max(1, int(ln * scale))
        toks = rng.choices(forms, cum_weights=cum, k=n)
        lines = [" ".join(toks[j:j + 14]) for j in range(0, n, 14)]
        rel = f"{sub}/d{first_id + i:06d}.txt"
        with open(os.path.join(out_dir, rel), "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
            f.write("\n")
        rels.append(rel)
    manifest = os.path.join(out_dir, f"{sub}.manifest")
    with open(manifest, "w", encoding="utf-8") as f:
        f.write(f"{len(rels)}\n")
        f.write("\n".join(rels))
        f.write("\n")
    return manifest


def read_index(manifest, id_offset=0):
    """Model index of a manifest corpus: word -> set of doc ids.

    Also returns (docs, tokens, bytes) of the corpus.
    """
    base = os.path.dirname(os.path.abspath(manifest))
    with open(manifest, encoding="utf-8") as f:
        toks = f.read().split()
    n = int(toks[0])
    paths = toks[1:1 + n]
    index, cache = {}, {}
    n_tokens = n_bytes = 0
    for pos, rel in enumerate(paths, start=1):
        with open(os.path.join(base, rel), "rb") as f:
            data = f.read()
        n_bytes += len(data)
        raw = data.split()  # ASCII whitespace, as the reference splits
        n_tokens += len(raw)
        doc = pos + id_offset
        for t in set(raw):
            w = cache.get(t)
            if w is None:
                w = cache[t] = clean_bytes(t)
            if w:
                s = index.get(w)
                if s is None:
                    index[w] = {doc}
                else:
                    s.add(doc)
    return index, {"docs": n, "tokens": n_tokens, "bytes": n_bytes}


def merged(a, b):
    out = {w: set(ids) for w, ids in a.items()}
    for w, ids in b.items():
        out.setdefault(w, set()).update(ids)
    return out


def render(word, ids):
    """One posting line: `word:[id1 id2 ...]`, ids ascending."""
    return f"{word}:[{' '.join(map(str, sorted(ids)))}]\n"


def index_lines(index):
    """word -> (df, posting line) of an index."""
    return {w: (len(ids), render(w, ids)) for w, ids in index.items()}


def merged_lines(base, base_lines, delta):
    """index_lines of base ∪ delta, re-rendering only the words delta touches."""
    lines = dict(base_lines)
    for w, ids in delta.items():
        u = base.get(w, set()) | ids
        lines[w] = (len(u), render(w, u))
    return lines


def letter_files(lines):
    """The 26 letter files the reference writes, as bytes per letter: lines
    ordered by df DESC then word ASC, an empty bucket as an empty file."""
    buckets = {}
    for w, (df, line) in lines.items():
        buckets.setdefault(w[0], []).append((-df, w, line))
    return {ch: "".join(line for _, _, line in sorted(buckets.get(ch, []))).encode("utf-8")
            for ch in "abcdefghijklmnopqrstuvwxyz"}


def letters_digest(files):
    """Digest of 26 letter files; the harness computes the same on disk."""
    h = hashlib.sha256()
    for ch in "abcdefghijklmnopqrstuvwxyz":
        body = files[ch]
        h.update(f"{ch}:{len(body)}:".encode("ascii"))
        h.update(body)
    return h.hexdigest()


def query_digest(index, kind, terms):
    """Digest of the expected result of one query.

    AND: ascending doc ids holding every cleaned term. OR: (doc, n_terms)
    pairs ordered by n_terms DESC, doc ASC.
    """
    cleaned = []
    for t in terms:
        c = clean(t)
        if c and c not in cleaned:
            cleaned.append(c)
    counts = {}
    for c in cleaned:
        for d in index.get(c, ()):
            counts[d] = counts.get(d, 0) + 1
    if kind == "and":
        rows = [str(d) for d in sorted(d for d, n in counts.items() if n == len(cleaned))]
    else:
        rows = [f"{d}:{n}" for d, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]
    return hashlib.sha256(" ".join(rows).encode("ascii")).hexdigest()


# The query mix. No query log of this engine exists, so every share below is
# an assumption chosen for what it makes the benchmark exercise, not measured
# traffic; only the mean query length is matched to published web query
# logs (2.35 terms per query on AltaVista, Silverstein et al., SIGIR Forum
# 1999; 2.4 on Excite, Spink et al., JASIST 2001).
TERMS_PER_QUERY = (2, 2, 3)  # mean 2.33 terms; 1-term and 4+-term queries left out
AND_SHARE = 0.5              # AND and OR weighed alike, so a change to either path shows
RARE_SHARE = 0.15            # terms with df <= 2: about 12 per 10 s window, short lists
ABSENT_SHARE = 0.08          # terms in no document: about 6 per window, empty lists
CAPITALIZED_SHARE = 0.10     # decorated terms make the query path run the tokenizer;
PUNCTUATED_SHARE = 0.05      # the corpus draws 8 % capitalized and 12 % punctuated forms


def query_stream(index, count, pattern_seed=2471):
    """`count` AND/OR queries of 2-3 raw terms, shaped by the assumed mix
    above.

    The stream's shape comes from a fixed pattern seed and is the same for
    every corpus: each query's kind and term count, and for each term its
    first letter (drawn by the word-initial frequencies), its class (common,
    rare with df <= 2, or absent from the index), its rank within the
    letter's words by df (log-uniform, i.e. Zipf-shaped) and its decoration
    (capitalized or punctuated, so the query path exercises the tokenizer).
    The corpus only decides which words fill that shape, so the work per
    query changes little from one corpus seed to the next.
    """
    rng = random.Random(pattern_seed)
    by_letter = {}
    for w, ids in index.items():
        by_letter.setdefault(w[0], []).append((-len(ids), w))
    for ws in by_letter.values():
        ws.sort()
    rare_by_letter = {c: [w for df, w in ws if -df <= 2] for c, ws in by_letter.items()}
    letters, weights = zip(*INITIAL.items())
    out = []
    for _ in range(count):
        kind = "and" if rng.random() < AND_SHARE else "or"
        terms = []
        for _ in range(rng.choice(TERMS_PER_QUERY)):
            letter = rng.choices(letters, weights)[0]
            u, v, dec = rng.random(), rng.random(), rng.random()
            suffix = "".join(rng.choices("zqjvk", k=6))
            ws = by_letter.get(letter, [])
            rare = rare_by_letter.get(letter, [])
            if u < ABSENT_SHARE or not ws:
                w = letter + suffix
                while w in index:
                    w += "q"
            elif u < ABSENT_SHARE + RARE_SHARE and rare:
                w = rare[int(v * len(rare))]
            else:
                w = ws[min(len(ws) - 1, int(len(ws) ** v) - 1)][1]
            terms.append(w.capitalize() if dec < CAPITALIZED_SHARE
                         else w + "," if dec < CAPITALIZED_SHARE + PUNCTUATED_SHARE else w)
        out.append((kind, terms))
    return out
