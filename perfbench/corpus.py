"""Seeded corpus for the `inverted_index` workload, and its golden index.

The corpus imitates the reference job's input: many small text files
(the reference indexes 355 book chapters) listed in a manifest whose
line position is the 1-based file id. Words follow a Zipf law over a
random vocabulary and carry the noise real prose has: capitals,
punctuation around and inside words, digit suffixes, and tokens that
hold no letter at all.

The golden index is computed here, from the tokens as written, with the
normalization contract of FIXTURES.md section A.3: split on whitespace,
lower-case byte-wise, drop every character outside [a-z], drop tokens
that become empty, keep one (word, file) pair per file. Lines are
`word:[id1 id2 ...]` with ids ascending, ordered by (number of ids
descending, word ascending), one file per first letter, empty letters as
0-byte files. The engine is never run here.
"""

import os
import re
import shutil

import numpy as np

LETTERS = "abcdefghijklmnopqrstuvwxyz"
# First-letter weights roughly follow English; `x` never starts a word,
# so `x.txt` must come out as a 0-byte file.
FIRST_WEIGHTS = {
    "a": 11, "b": 5, "c": 8, "d": 5, "e": 4, "f": 4, "g": 3, "h": 6, "i": 4,
    "j": 1, "k": 1, "l": 3, "m": 5, "n": 3, "o": 4, "p": 7, "q": 0.4, "r": 5,
    "s": 11, "t": 9, "u": 2, "v": 1, "w": 4, "x": 0, "y": 0.5, "z": 0.3,
}
# Tokens that normalize to nothing and so must not reach the index.
EMPTY_TOKENS = ["1999", "42", "--", "&", "...", "2024-10-17", "#7", "(3)", "+"]
# Per-token noise: share of tokens written in each variant form.
VARIANT_WEIGHTS = np.array([0.70, 0.08, 0.03, 0.07, 0.03, 0.03, 0.03, 0.03])
NORM_RE = re.compile(r"[^a-z]")


def normalize(token):
    """FIXTURES.md A.3: byte-wise lower, keep only [a-z]."""
    return NORM_RE.sub("", token.lower())


def _variants(word, rng):
    """The written forms of one vocabulary word, in VARIANT_WEIGHTS order."""
    cut = 1 + int(rng.integers(max(1, len(word) - 1)))
    return [
        word,
        word.capitalize(),
        word.upper(),
        word + ",.;:!?"[int(rng.integers(6))],
        '("' [int(rng.integers(2))] + word + ')"' [int(rng.integers(2))],
        word + str(int(rng.integers(10))),
        word + "'s",                     # "word's" -> "words", another word
        word[:cut] + "-" + word[cut:],   # "x-ray" -> "xray"
    ]


def _vocabulary(rng, size):
    letters = np.array(list(LETTERS))
    first_p = np.array([FIRST_WEIGHTS[c] for c in LETTERS], dtype=float)
    first_p /= first_p.sum()
    words, seen = [], set()
    while len(words) < size:
        n = int(rng.choice([2, 3, 4, 5, 6, 7, 8, 9, 10, 12],
                           p=[.04, .10, .16, .18, .16, .12, .09, .07, .05, .03]))
        w = str(rng.choice(letters, p=first_p)) + "".join(rng.choice(letters, n - 1))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def generate(seed, root, n_files, total_bytes, vocab_size=40000, zipf_s=1.05):
    """Write `root/manifest.txt`, `root/files/*.txt` and `root/golden/*.txt`.

    Returns the number of tokens written. Same seed, same bytes.
    """
    rng = np.random.default_rng(seed)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "files"))
    os.makedirs(os.path.join(root, "golden"))

    vocab = _vocabulary(rng, vocab_size)
    forms = [f for w in vocab for f in _variants(w, rng)] + EMPTY_TOKENS
    n_var = len(VARIANT_WEIGHTS)
    norm_words = sorted({normalize(f) for f in forms} - {""})
    norm_id = {w: i for i, w in enumerate(norm_words)}
    form_norm = np.array([norm_id.get(normalize(f), -1) for f in forms])
    forms = np.array(forms, dtype=object)

    ranks = np.arange(1, vocab_size + 1, dtype=float)
    cdf = np.cumsum(ranks ** -zipf_s)
    cdf /= cdf[-1]
    var_cdf = np.cumsum(VARIANT_WEIGHTS / VARIANT_WEIGHTS.sum())

    # lognormal file sizes, like chapters of different books
    sizes = rng.lognormal(0.0, 0.6, n_files)
    sizes = np.maximum(200, sizes / sizes.sum() * total_bytes).astype(int)
    avg_token = 7.0
    pairs = []
    tokens_written = 0
    with open(os.path.join(root, "manifest.txt"), "w") as manifest:
        manifest.write(f"{n_files}\n")
        for fid in range(1, n_files + 1):
            rel = f"files/ch{fid:04d}.txt"
            manifest.write(rel + "\n")
            n_tok = max(1, int(sizes[fid - 1] / avg_token))
            word = np.searchsorted(cdf, rng.random(n_tok))
            var = np.minimum(np.searchsorted(var_cdf, rng.random(n_tok)), n_var - 1)
            tok = word * n_var + var
            # about one token in 60 carries no letter at all
            empty = rng.random(n_tok) < 1 / 60
            tok[empty] = vocab_size * n_var + rng.integers(len(EMPTY_TOKENS), size=int(empty.sum()))
            written = forms[tok]
            line_len = rng.integers(6, 18)
            with open(os.path.join(root, rel), "w") as f:
                for i in range(0, n_tok, line_len):
                    f.write(" ".join(written[i:i + line_len]))
                    f.write("\n")
            tokens_written += n_tok
            ids = np.unique(form_norm[tok])
            ids = ids[ids >= 0]
            pairs.append(np.stack([ids, np.full(len(ids), fid)], axis=1))

    _write_golden(np.concatenate(pairs), norm_words, os.path.join(root, "golden"))
    return tokens_written


def _write_golden(pairs, norm_words, out_dir):
    order = np.lexsort((pairs[:, 1], pairs[:, 0]))
    pairs = pairs[order]
    word_ids, starts, counts = np.unique(pairs[:, 0], return_index=True, return_counts=True)
    by_letter = {c: [] for c in LETTERS}
    for wid, start, cnt in zip(word_ids.tolist(), starts.tolist(), counts.tolist()):
        w = norm_words[wid]
        by_letter[w[0]].append((-cnt, w, start))
    files = pairs[:, 1]
    for c in LETTERS:
        rows = sorted(by_letter[c])
        with open(os.path.join(out_dir, f"{c}.txt"), "w") as f:
            for neg_cnt, w, start in rows:
                ids = " ".join(map(str, files[start:start - neg_cnt].tolist()))
                f.write(f"{w}:[{ids}]\n")


def compare_letter_files(golden_dir, out_dir):
    """`diff -w` over all 26 letter files: None when equal, else a reason."""
    for c in LETTERS:
        got_path = os.path.join(out_dir, f"{c}.txt")
        if not os.path.isfile(got_path):
            return f"{c}.txt missing"
        with open(got_path, "rb") as g, open(os.path.join(golden_dir, f"{c}.txt"), "rb") as w:
            if g.read() == w.read():
                continue
        with open(os.path.join(golden_dir, f"{c}.txt")) as f:
            want = [re.sub(r"\s+", "", line) for line in f]
        with open(got_path) as f:
            got = [re.sub(r"\s+", "", line) for line in f]
        if got != want:
            for i, (g, w) in enumerate(zip(got, want)):
                if g != w:
                    return f"{c}.txt line {i + 1}: got {g[:80]!r}, want {w[:80]!r}"
            return f"{c}.txt: {len(got)} lines, want {len(want)}"
    return None
