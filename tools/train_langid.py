"""Train and ship the builtin language-ID model (VERDICT r10 ask #1).

Fully deterministic recipe: seeded synthetic corpus from the public
seed vocabularies (operators/langid.py VOCAB), MLlib multinomial
logistic regression over hashed char-n-gram counts, dyadic k/256
quantization, held-out evaluation with the quantized weights, then
emit ``spatialpandas_spark/operators/_langid_model.py`` with the
weights in offset-binary hex (the exact encoding the DuckDB oracle
substring-indexes — one source of truth for both engines).

Run: ``python tools/train_langid.py`` (rewrites the model module and
prints per-language held-out accuracy).
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np

# round 13 (VERDICT r12 ask #3): 4096 -> 16384. The bucket sweep
# (BASELINE.md round 13) measured the frozen holdout at
# 4096: 0.9642 / 8192: 0.9684 / 16384: 0.9726, with the verdict's
# named confusions dropping (pt .90->.94, cs .84->.92, bg .90->.92,
# total confused 68->52); da/sv remained the residual (.82->.86) at
# the bucket step — closed by the da/sv/nl vocabulary broadening in
# this same round (final da recall .98; the family-sub-model
# alternative was prototyped in round 13 (BASELINE.md) and
# honestly not shipped — it regressed da).
N_FEATURES = 16384
ORDERS = (1, 2, 3)
INCLUDE_WORDS = True
MAX_CHARS = 256
DENOM = 256
PER_LANG_TRAIN = 600
PER_LANG_EVAL = 80
# round 14 (VERDICT r13 asks #1/#3): length-standardized training —
# every training vector is scaled to a total feature mass of 128, so
# the class intercepts compete against a FIXED evidence mass at every
# text length (the principled fix for the short-text intercept
# artifact: the documented ko->zh carve-out cell is gone and the
# cross-script confusion floor holds with zero allowances). Serving
# compares the order-equivalent integer form n*ki + 128*s — exact
# dyadic (see operators/langid.margins_kernel). The round-14 config
# sweep (BASELINE.md round 14) measured raw/serve-scaled/len-std
# at 0.9853 / 0.9868 / 0.9879 on the dev holdout with min recall
# 0.88 / 0.88 / 0.90 — len-std wins on every axis.
LEN_STD = 128

OUT = (
    Path(__file__).resolve().parent.parent
    / "spatialpandas_spark"
    / "operators"
    / "_langid_model.py"
)


def py_buckets(text: str, n_features=N_FEATURES, orders=ORDERS,
               lowercase=True, max_chars=MAX_CHARS,
               include_words=INCLUDE_WORDS) -> list[int]:
    """Pure-python twin of operators/langid.lang_buckets (md5-prefix
    bucket hash; parity with Catalyst is pytest-asserted)."""
    import re

    t = text.lower() if lowercase else text
    if max_chars is not None:
        t = t[:max_chars]
    grams = []
    for o in orders:
        grams += [t[i : i + o] for i in range(len(t) - o + 1)]
    if include_words:
        grams += [w for w in re.split(r"\s+", t) if w != ""]
    return [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % n_features
        for g in grams
    ]


def main() -> None:
    from spatialpandas_spark.operators.langid import (
        LANGS,
        langid_corpus,
        margins_kernel,
        quantize_langid_model,
        train_langid_classifier,
    )
    from spatialpandas_spark.session import get_spark

    spark = get_spark(master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    train = spark.createDataFrame(
        langid_corpus(PER_LANG_TRAIN, "train"), "lang string, text string"
    )
    model = train_langid_classifier(
        train, n_features=N_FEATURES, orders=ORDERS, max_chars=MAX_CHARS,
        include_words=INCLUDE_WORDS, reg_param=1e-5, max_iter=200,
        len_std=LEN_STD,
    )
    qm = quantize_langid_model(model, DENOM)
    assert qm["classes"] == LANGS, qm["classes"]

    # held-out evaluation with the QUANTIZED (shipped) weights
    W = np.asarray(qm["weights"])
    I = np.asarray(qm["intercepts"])
    held = langid_corpus(PER_LANG_EVAL, "heldout")
    m = margins_kernel((py_buckets(t) for _, t in held), W, I, LEN_STD)
    pred = [LANGS[a] for a in np.argmax(m, axis=1)]
    per = {}
    for (want, _), got in zip(held, pred):
        ok, n = per.get(want, (0, 0))
        per[want] = (ok + (got == want), n + 1)
    total_ok = sum(ok for ok, _ in per.values())
    total_n = sum(n for _, n in per.values())
    for lang in LANGS:
        ok, n = per[lang]
        print(f"  {lang}: {ok}/{n}")
    print(f"held-out accuracy: {total_ok}/{total_n} = {total_ok/total_n:.4f}")

    kw = np.clip(np.rint(np.asarray(model["weights"]) * DENOM), -32767, 32767)
    kw = kw.astype(np.int64) + 32768  # offset-binary, always 4 hex digits
    ki = np.clip(
        np.rint(np.asarray(model["intercepts"]) * DENOM), -32767, 32767
    ).astype(np.int64)

    lines = [
        '"""Shipped language-ID model weights — GENERATED by',
        "tools/train_langid.py (deterministic recipe; do not hand-edit).",
        "",
        "WEIGHTS_HEX[c] is the class-c weight row in offset-binary hex:",
        "bucket b's numerator is int(hex[4b:4b+4], 16) - 32768, weight =",
        "numerator / DENOM (an exact dyadic rational — see",
        'operators/langid.quantize_langid_model)."""',
        "",
        f"CLASSES = {qm['classes']!r}",
        f"N_FEATURES = {N_FEATURES}",
        f"ORDERS = {tuple(ORDERS)!r}",
        f"LOWERCASE = True",
        f"MAX_CHARS = {MAX_CHARS}",
        f"INCLUDE_WORDS = {INCLUDE_WORDS}",
        f"DENOM = {DENOM}",
        f"LEN_STD = {LEN_STD}",
        f"INTERCEPT_NUMS = {ki.tolist()!r}",
        "",
        "WEIGHTS_HEX = {",
    ]
    for c, row in zip(qm["classes"], kw):
        h = "".join(f"{v:04x}" for v in row)
        lines.append(f"    {c!r}:")
        for i in range(0, len(h), 72):
            tail = "" if i + 72 < len(h) else ","
            lines.append(f"        \"{h[i:i+72]}\"{tail}")
    lines.append("}")
    OUT.write_text("\n".join(lines) + "\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
