"""Regression tests for the round-3 ADVICE.md findings (fixed round 4).

1. xexpt grouped drill-down re-gains a cell-cardinality cap (LIMIT-bounded
   fetch, explicit error above ``max_cells``).
2. KS 'exact' with ties warns + falls back (covered in test_advice_fixes).
3. multimodal strict mode: corrupt uncompressed payloads re-raise their
   original error; only unsupported codecs get the PIL/cv2 message.
4. sessionize preserves sub-second durations.
"""

import datetime

import numpy as np
import pandas as pd
import pytest


def test_xexpt_grouped_cell_cap(spark, ab_df):
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    d = (ab_df.withColumn("uin", F.monotonically_increasing_id())
              .withColumn("cell", (F.col("x1") * 1e6).cast("long") % 50))
    with pytest.raises(ValueError, match="report cells"):
        xexpt_ttest_2samp(d, "numerator", "denominator", "treatment", "uin",
                          group_cols=["cell"], max_cells=10)
    ok = xexpt_ttest_2samp(d, "numerator", "denominator", "treatment", "uin",
                           group_cols=["cell"], max_cells=100)
    assert len(ok) > 10


def test_xexpt_grouped_sum_cell_cap(spark, ab_df):
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.operators.xexpt import xexpt_ttest_2samp

    d = (ab_df.withColumn("uin", F.monotonically_increasing_id())
              .withColumn("cell", (F.col("x1") * 1e6).cast("long") % 20))
    with pytest.raises(ValueError, match="report cells"):
        xexpt_ttest_2samp(d, "numerator", "denominator", "treatment", "uin",
                          metric_type="sum", group_buckets=(1, 1),
                          group_cols=["cell"], max_cells=5)


def test_image_strict_corrupt_bmp_not_masked(spark):
    from fast_causal_inference_spark.datapipe.multimodal import (
        encode_bmp,
        image_features,
        image_resize,
    )

    good = encode_bmp(
        np.arange(192, dtype=np.uint8).reshape(8, 8, 3))
    corrupt = good[:20]                    # truncated BMP: a DATA error
    codec = b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 64  # unsupported

    d_corrupt = spark.createDataFrame(pd.DataFrame({"payload": [corrupt]}))
    d_codec = spark.createDataFrame(pd.DataFrame({"payload": [codec]}))

    with pytest.raises(Exception) as e:
        image_features(d_corrupt, strict=True).collect()
    assert "requires PIL/cv2" not in str(e.value)

    with pytest.raises(Exception) as e:
        image_features(d_codec, strict=True).collect()
    assert "requires PIL/cv2" in str(e.value)

    with pytest.raises(Exception) as e:
        image_resize(d_corrupt, width=4, height=4, strict=True).collect()
    assert "requires PIL/cv2" not in str(e.value)


def test_sessionize_subsecond_duration(spark):
    from fast_causal_inference_spark.streaming.ops import sessionize

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = pd.DataFrame({
        "user": ["u1"] * 3,
        "ts": [t0, t0 + datetime.timedelta(milliseconds=250),
               t0 + datetime.timedelta(milliseconds=900)],
    })
    d = spark.createDataFrame(rows)
    out = sessionize(d, "user", "ts", gap="1 minute").toPandas()
    assert len(out) == 1
    assert out.duration_sec[0] == pytest.approx(0.9)


def test_bind_once_equivalence_random_text(spark):
    """The let-bound n-gram/shingle constructions must equal the naive
    closure formulation VALUE-FOR-VALUE on adversarial text (empty,
    whitespace runs, unicode, 1-token docs)."""
    from pyspark.sql import functions as F

    from fast_causal_inference_spark.datapipe.text import tokens, word_ngrams
    from fast_causal_inference_spark.datapipe.dedup import shingle_hashes

    texts = ["", "   ", "one", "a b", "a b c", "a  b\t c \n d",
             "héllo wörld héllo wörld", "x " * 50,
             "the quick brown fox jumps over the lazy dog"]
    d = spark.createDataFrame(pd.DataFrame({"text": texts}))
    n = 3
    toks = tokens(F.col("text"))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    naive_grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    naive_hashes = F.array_distinct(
        F.transform(naive_grams, lambda g: F.xxhash64(g)))
    out = d.select(
        (word_ngrams(F.col("text"), n) == naive_grams).alias("g_eq"),
        (shingle_hashes(F.col("text"), n) == naive_hashes).alias("h_eq"),
    ).toPandas()
    assert out.g_eq.all(), out
    assert out.h_eq.all(), out


def test_normalize_letbound_values(spark):
    import fast_causal_inference_spark.functions as fn
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        pd.DataFrame({"v": [[3.0, 4.0], [1.0, 0.0], [0.5, 0.5, 0.5]]}))
    out = d.select(fn.L2Normalize("v").alias("n"),
                   fn.L1Normalize("v").alias("l1")).toPandas()
    assert out.n[0] == pytest.approx([0.6, 0.8])
    assert sum(out.l1[2]) == pytest.approx(1.0)
