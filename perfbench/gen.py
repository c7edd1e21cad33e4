"""Inputs for the benchmark, made once per seed in one process.

  text(seed, out, shape)      the MapReduce text directory, generated
                              from the seed with numpy
  fixture(seed, out, shape)   the suite's tables, copied from the
                              fixture kept beside this file

The same seed always yields the same bytes (selfcheck.py pins this).
"""
import hashlib
import os
import shutil

import numpy as np

GREP_TERM = "product"


def _rng(seed, stream):
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def fixture(seed, out, shape):
    """The suite's tables: a byte copy of the repository's sf0.01 test
    fixture (TESTDATA.md), kept in `shape["dir"]` and refused unless its
    sha256 is `shape["sha256"]`. The seed does not change them."""
    src = os.path.join(os.path.dirname(os.path.abspath(__file__)), shape["dir"])
    got = digest(src)
    if got != shape["sha256"]:
        raise ValueError(f"{src}: sha256 {got}, expected {shape['sha256']}")
    shutil.copytree(src, out)


def _zipf_vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 10))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    words.discard(GREP_TERM)
    return sorted(words)


def text(seed, out, shape):
    """ASCII text files for the MapReduce jobs: a Zipf-distributed
    vocabulary, mixed case, blank and whitespace-only lines, leading
    blanks, inner tabs and `[`/`]` separators, and GREP_TERM on a known
    share of lines."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, "text")
    vocab = np.array(_zipf_vocab(rng, shape["vocab"]))
    ranks = np.arange(1, len(vocab) + 1)
    prob = 1.0 / ranks ** 1.1
    prob /= prob.sum()
    seps = np.array([" "] * 12 + ["\t", "[", "]", " ["])
    per_file = shape["bytes"] // shape["files"]
    for f in range(shape["files"]):
        lines, size = [], 0
        while size < per_file:
            n_lines = 2048
            lens = rng.integers(1, 16, n_lines)
            toks = vocab[rng.choice(len(vocab), int(lens.sum()), p=prob)]
            caps = rng.random(len(toks))
            sep = seps[rng.integers(0, len(seps), len(toks))]
            kind = rng.random(n_lines)
            pos = 0
            for i in range(n_lines):
                k = int(lens[i])
                words = []
                for j in range(pos, pos + k):
                    w = str(toks[j])
                    if caps[j] < 0.1:
                        w = w.upper()
                    elif caps[j] < 0.3:
                        w = w.capitalize()
                    words.append(w + str(sep[j]))
                pos += k
                line = "".join(words).rstrip(" \t")
                if kind[i] < 0.04:
                    line = ""
                elif kind[i] < 0.06:
                    line = " " * int(1 + kind[i] * 100 % 4)
                elif kind[i] < 0.16:
                    line = "  " + line
                if 0.5 < kind[i] < 0.515:
                    line = line + " " + ("Product", "PRODUCT", "products",
                                         "product")[i % 4]
                lines.append(line)
                size += len(line) + 1
        with open(f"{out}/input{f:03d}.txt", "w", encoding="ascii",
                  newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")


def digest(path):
    """sha256 over every file under `path` (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
