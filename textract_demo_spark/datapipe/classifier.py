"""Trained hashed-ngram text-quality classifier — the GPT-3 /
fastText-style learned document filter.

Brown et al. 2020 (GPT-3, Appendix A) filter CommonCrawl with a
logistic-regression classifier over hashed text features trained on
a "looks like the reference corpus" label; fastText (Joulin et al.
2016) is the same shape — a linear model over hashed bag-of-ngrams.
This module is that operator re-expressed Spark-first, completing the
learned-filter family: ``core/quality_model.py`` learns over
engineered payload-shape features, ``datapipe/dsir.py`` learns a
generative importance weight, and this learns a *discriminative*
classifier over raw hashed unigram+bigram text features (the same
feature construction as DSIR — one tokenizer, one hash family).

Reference analog: the demo trains a Rekognition custom-labels model
on a labelled corpus and routes on its label
(``source/ocr/preprocessing/README.md:46-57``,
``fn-preprocess/main.py:117-146``); this is that train-then-gate loop
with the label source being document text.

Design constraints (same as quality_model.py, same order):

1. **Inference is native Spark SQL** — the trained weights are a
   plan-time LITERAL array indexed by bucket (``element_at(array(...),
   bucket + 1)``) so scoring needs ZERO joins: one narrow projection,
   one partial-aggregated groupBy(doc). Floats never cross an engine
   boundary: training happens in float, the shipped model is integer
   micro-units, and the decision is
   ``n_feats * bias_micro + sum(w_micro[bucket]) >= 0``
   (the fastText mean-of-buckets ``b + mean(w)`` scaled by n_feats —
   sign-equivalent, integer-exact, replayable in DuckDB).
2. **Training is deterministic**: fixed corpus order, zero init,
   fixed lr/epochs, pure numpy; the frozen constants below reproduce
   by running ``train_text_classifier()``.
3. The Python featurizer mirrors the Spark/DuckDB SQL featurizer
   byte-for-byte on ASCII (tokenize = trim-spaces, collapse
   ``[ \\t\\n\\x0B\\f\\r]+`` to one space, lowercase, split on space;
   features = unigrams + adjacent bigrams; bucket = top-60-bits-of-md5
   mod B) — asserted in tests/test_classifier.py.

Scale shape at 10^12 docs: scoring is explode -> narrow literal-array
lookup -> ONE groupBy(doc) with map-side partial aggregation. No
joins, no broadcast, nothing driver-side; corpus text never shuffles
— only (doc_id, bucket) rows move, exactly the DSIR scoring plan
minus its broadcast join.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dsir import _buckets

NUM_BUCKETS = 256

# Java/RE2 \s (see core/quality_model.py: \x0B is in Java's \s)
_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")


def _py_tokens(text: str | None) -> list[str]:
    """Python mirror of textstats._tokens:
    split(lower(regexp_replace(trim(text), '\\s+', ' ')), ' ')."""
    t = (text or "").strip(" ")          # SQL trim strips spaces only
    t = _WS_RE.sub(" ", t).lower()
    return t.split(" ")


def _py_features(text: str | None) -> list[str]:
    """Python mirror of dsir._FEATURES: unigrams + adjacent bigrams."""
    toks = _py_tokens(text)
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_bucket(feat: str, num_buckets: int = NUM_BUCKETS) -> int:
    """Python mirror of dedup.hash64(mode='md5') % num_buckets."""
    h = int(hashlib.md5(feat.encode("utf-8")).hexdigest()[:15], 16)
    return h % num_buckets


def labelled_text_corpus() -> list[tuple[str, int]]:
    """Deterministic labelled corpus: 1 = natural prose (function
    words, sentence shape), 0 = junk (consonant mash, symbol spam,
    character repetition). Formulaic construction — no RNG — so the
    frozen model reproduces anywhere."""
    topics = ["river", "market", "garden", "castle", "harbor",
              "forest", "valley", "bridge", "meadow", "temple"]
    verbs = ["walked", "looked", "turned", "moved", "stayed"]
    goods, junks = [], []
    for i, t in enumerate(topics):
        v = verbs[i % len(verbs)]
        goods.append(
            f"The old {t} was quiet in the morning and the people {v}"
            f" along the road to the {topics[(i + 1) % 10]} while the"
            " light fell softly on the stones.")
        goods.append(
            f"She said that the work at the {t} would be done before"
            " the end of the season and everyone there agreed with"
            f" her plan to {verbs[(i + 2) % 5]} on together.")
    cons = "bcdfghjklmnpqrstvwxz"
    for i in range(12):
        toks = [cons[(i * 7 + j * 3) % 20] + cons[(i * 5 + j * 11) % 20]
                + cons[(i * 13 + j) % 20] for j in range(24)]
        junks.append(" ".join(toks))
    for i in range(6):
        junks.append(("@#$% !!! " + "zz" * (i + 2) + " ") * 6)
        junks.append(" ".join(f"x{j}{j}{j}" for j in range(i, i + 20)))
    return [(t, 1) for t in goods] + [(t, 0) for t in junks]


def train_text_classifier(corpus: list[tuple[str, int]] | None = None,
                          num_buckets: int = NUM_BUCKETS,
                          lr: float = 0.5, epochs: int = 400,
                          scale: int = 1_000_000
                          ) -> tuple[int, list[int]]:
    """Fit logistic weights over mean hashed-ngram bucket indicators
    (the fastText construction) by full-batch gradient descent; return
    the integer model ``(bias_micro, weights_micro)`` with decision
    ``n_feats * bias + sum_occurrences(weights[bucket]) >= 0``.

    Deterministic (zero init, fixed order/lr/epochs). Raises if
    integer quantization flips any training decision."""
    import numpy as np

    corpus = labelled_text_corpus() if corpus is None else corpus
    n = len(corpus)
    x = np.zeros((n, num_buckets))
    counts = []
    for i, (text, _) in enumerate(corpus):
        feats = _py_features(text)
        counts.append(max(len(feats), 1))
        for ft in feats:
            x[i, _py_bucket(ft, num_buckets)] += 1.0
        x[i] /= counts[-1]
    y = np.array([lab for _, lab in corpus], dtype=np.float64)
    w = np.zeros(num_buckets)
    b = 0.0
    for _ in range(epochs):
        z = x @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (x.T @ g) / n
        b -= lr * g.mean()
    b_q = round(b * scale)
    w_q = [int(round(wi * scale)) for wi in w]
    zi = x @ w + b
    for (text, _), zf in zip(corpus, zi):
        feats = _py_features(text)
        zq = (max(len(feats), 1) * b_q
              + sum(w_q[_py_bucket(ft, num_buckets)] for ft in feats))
        if (zf >= 0) != (zq >= 0):
            raise RuntimeError("quantization flipped a training"
                               " decision")
    return b_q, w_q


# frozen model (reproduce with train_text_classifier()); asserted
# fresh-trainable + held-out-accurate in tests/test_classifier.py
TEXT_CLF_BIAS_MICRO = -367177
TEXT_CLF_WEIGHTS_MICRO: list[int] = [
    -83239, -362266, -80028, -1397, -41620, -165036, 0, 523536,
    -41074, -83962, 272957, 38225, 80343, -82524, 442720, 79548,
    314889, 0, 82849, -320304, -324563, -43218, -283346, -123222,
    -160750, -83051, 320289, -204159, -552342, -4852, 362421, -321553,
    -40106, 875551, -163861, 9301, 1121, 0, 321017, -335959,
    -120944, -124125, -125279, -122786, -41074, -1790387, -41262, -339346,
    -120197, -41981, 273467, -402982, -522247, -247897, -82664, 273661,
    -43467, 275802, 40418, -279572, -180366, 724311, -240950, 131704,
    123580, -399248, 35187, 0, 0, -41981, 403152, -204617,
    0, -80212, 90220, 0, -162342, 39752, 76899, -82713,
    -83600, -40732, 149431, -120989, -201226, -6017, 79791, 0,
    -123185, -342651, -121832, -41620, 20065, 435101, -40732, 1109243,
    0, -600218, -83239, 26084, -123210, 0, -81793, -122632,
    -163057, 0, 399556, 0, 0, 4468572, 355621, -120944,
    -299137, 318700, -362285, -269276, 0, -123713, 355808, -82124,
    316670, -373421, -176029, -319447, -363450, 197389, -286104, -1322,
    276685, 279992, -121802, 794931, -315699, 396882, -128147, -79818,
    -41074, -285587, 800035, 362078, 396882, -403715, -165831, 32548,
    -126471, 0, 1107953, -119841, -228581, 240246, -79818, -559144,
    439868, -86801, 400805, 319943, -123938, -217314, 361891, -41434,
    -41620, -202539, -193054, 240891, -244967, -400452, -1269206, 78728,
    133461, 0, 0, 36771, 0, -204131, -41620, -124441,
    -42596, -199558, -123292, 315089, -79818, -121644, 361721, -412575,
    -124859, -724144, 396882, -42978, -249906, 675011, 159160, -122277,
    -41620, -41432, 39752, 0, 119223, 636583, -40732, -1187207,
    -41062, -1702, 76048, 403152, -82351, -120944, -41432, -82863,
    -123071, -123974, -41074, -18948, -279572, 0, -41590, -121287,
    -161872, 236697, 15705, 361563, 403152, 238007, 320289, 313312,
    355293, 0, -41074, -83239, -41590, 0, -635272, -421516,
    -159370, -403874, -239969, -226690, 394755, 238408, -1318, 0,
    0, -44264, 401638, 317064, -82664, -41062, -41432, 361721,
    -165766, -374387, -40732, -93944, -88051, -82493, 234462, -80212,
]


def weights_sql_array(weights: list[int] | None = None,
                      dialect: str = "spark") -> str:
    """The weight table as a plan-time literal array/list SQL
    fragment, indexable 1-based by ``bucket + 1`` in both engines."""
    w = TEXT_CLF_WEIGHTS_MICRO if weights is None else weights
    body = ", ".join(str(x) for x in w)
    if dialect == "spark":
        return f"array({body})"
    if dialect == "duckdb":
        return f"[{body}]"
    raise ValueError(dialect)


def with_text_classifier(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         bias: int | None = None,
                         weights: list[int] | None = None,
                         hash_mode: str = "md5") -> DataFrame:
    """(id, n_feats, clf_score_micro, clf_label) per doc under the
    (default: frozen) model. ``hash_mode`` must match the family the
    model was trained with (the frozen model is md5-family; pass
    xxhash64 only with weights trained in that family)."""
    b = TEXT_CLF_BIAS_MICRO if bias is None else bias
    w = TEXT_CLF_WEIGHTS_MICRO if weights is None else weights
    arr = weights_sql_array(w, "spark")
    score = (F.col("n_feats") * F.lit(b) + F.col("_ws")).cast("long")
    return (_buckets(docs, text_col, id_col, len(w), hash_mode)
            .withColumn("_w", F.expr(
                f"element_at({arr}, cast(bucket AS INT) + 1)"))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_feats"),
                 F.sum("_w").cast("long").alias("_ws"))
            .select(id_col, "n_feats",
                    score.alias("clf_score_micro"),
                    F.when(score >= 0, F.lit("good"))
                     .otherwise(F.lit("junk")).alias("clf_label")))
