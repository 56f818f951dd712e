"""Seeded text corpus for the mr_text workload: whole-file records whose
words follow a Zipf law over a vocabulary that mixes ASCII and non-ASCII
letters, with digits, punctuation and line breaks as separators (the
reference's tokenizer splits on anything that is not a letter).

Usage: python3 perfbench/gen_corpus.py <out_dir> <files> <mb_total> <seed>
"""
import os
import sys

import numpy as np

LETTERS = list("abcdefghijklmnopqrstuvwxyz") * 4 + list("éèüöäßñçøåæœžšłżжлдзыйλπσ中文字")
SEPS = [" "] * 30 + [", ", ". ", "; ", "\n", "\n\n", " 42 ", " 1999-2024 ", " (", ") ", " — ", "'s "]


def generate(out, files, mb_total, seed, vocab=20000, zipf_s=1.07):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    lens = rng.integers(2, 11, vocab)
    letters = np.array(LETTERS)
    words = np.array(["".join(rng.choice(letters, n)) for n in lens])
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    seps = np.array(SEPS)
    per_file = int(mb_total * 1e6 / files)
    for i in range(files):
        n = per_file // 7  # ~7 bytes per token with its separator
        w = words[rng.choice(vocab, n, p=p)]
        s = seps[rng.integers(0, len(seps), n)]
        text = "".join(np.char.add(w, s).tolist())
        with open(os.path.join(out, f"pg-{i:02d}.txt"), "w", encoding="utf-8") as f:
            f.write(text)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]))
