"""Template families: the vendored/forked-code shape.

Every file is a near-copy of one of a few templates (Zipf-weighted, so the
largest family is several times the smallest) with one contiguous token
edit of 0.5-2.5%. A third of each family's copies derive from a second
*variant* of the template that differs from the first by a 16%
contiguous block: the two variants still share many band keys but fail
verification against each other, so star centres of the wrong variant send
their members through the rescue pass.

Every row is a pure function of (seed, row id), like ``annoy_spark.corpus``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_TEMPLATES = 8
TEMPLATE_TOKENS = 320
#: share of template copies in the dedup_skewed corpus
COPY_SHARE = 0.6
VARIANT_SHARE = 1 / 3
_CUM_WEIGHTS = np.cumsum(1.0 / np.arange(1, N_TEMPLATES + 1))
_CUM_WEIGHTS /= _CUM_WEIGHTS[-1]


def vocab(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 0x70CA])
    stems = np.array(["buf", "len", "ctx", "ptr", "node", "list", "hash",
                      "read", "emit", "parse", "flag", "pool", "lock", "tick"])
    a = stems[rng.integers(0, len(stems), 4096)]
    b = stems[rng.integers(0, len(stems), 4096)]
    num = rng.integers(0, 9999, 4096).astype(str)
    return np.char.add(np.char.add(a, np.char.add(b, "_")), num)


def _replace_block(rng, toks: np.ndarray, frac: float, words: np.ndarray):
    toks = toks.copy()
    span = max(1, int(round(len(toks) * frac)))
    start = int(rng.integers(0, len(toks) - span + 1))
    toks[start:start + span] = words[rng.integers(0, len(words), span)]
    return toks


def template_tokens(seed: int, t: int, variant: int,
                    words: np.ndarray) -> np.ndarray:
    rng = np.random.default_rng([seed, 0x7E3, t])
    toks = words[rng.integers(0, len(words), int(rng.integers(250, 450)))]
    if variant:
        vr = np.random.default_rng([seed, 0x7E4, t])
        toks = _replace_block(vr, toks, 0.14 + 0.04 * vr.random(), words)
    return toks


def render(toks: np.ndarray) -> str:
    return ";\n".join(" ".join(toks[i:i + 8]) for i in range(0, len(toks), 8))


def row(seed: int, i: int, words: np.ndarray) -> dict:
    # family and variant follow low-discrepancy sequences of the row id, so
    # family sizes (which set the work of every skew tier) do not vary
    # with the seed; the seed picks the templates and the edits
    t = int(np.searchsorted(_CUM_WEIGHTS, (i * 0.6180339887) % 1.0))
    variant = int((i * 0.4142135624) % 1.0 < VARIANT_SHARE)
    rng = np.random.default_rng([seed, 0x5EED, i])
    toks = _replace_block(
        rng, template_tokens(seed, t, variant, words),
        0.005 + 0.02 * rng.random(), words,
    )
    return {
        "repo": f"vendor{t}/fork{i % 50}",
        "path": f"src/mod{i % 31}/file{i}.c",
        "commit": rng.bytes(20).hex(),
        "lang": "cpp",
        "content": render(toks),
        "dup_class": "template",
        "base_id": -1,
        "row_id": i,
        "template": t,
        "variant": variant,
    }


def generate_pdf(n: int, seed: int, first_id: int = 0) -> pd.DataFrame:
    """``n`` template copies with row ids from ``first_id``, in the columns
    of ``annoy_spark.corpus.generate_corpus_pdf`` plus the family labels
    (template, variant)."""
    words = vocab(seed)
    return pd.DataFrame(
        [row(seed, i, words) for i in range(first_id, first_id + n)])
