"""ALS collaborative-filtering wrapper (SURVEY §2.9 M6; als_recommendation.py).

Thin by design — ``pyspark.ml.recommendation.ALS`` is the right primitive.
What the rebuild changes vs. the reference:

- top-k per user comes from ``recommendForAllUsers(k)`` (blocked factor
  matmul inside the JVM) instead of transform-all-pairs + window rank
  (als_recommendation.py:19-24);
- evaluation feeds the DataFrame-native ranking metrics directly — the
  reference's ``collect()``/``parallelize()`` round-trip and RDD
  ``groupByKey`` (als_recommendation.py:26-34; SURVEY §4.2-1/2) are gone;
- ``coldStartStrategy="drop"`` kept (als_recommendation.py:15).

ALS factor reductions are float and order-dependent → metrics are checked
with tolerance, never value-hashed (SURVEY §7.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ALSResult:
    model: object
    recommendations: DataFrame  # (user, item, pos) exploded, rank order


def train_als_recommend(
    train: DataFrame,
    k: int = 100,
    rank: int = 10,
    reg_param: float = 0.05,
    max_iter: int = 10,
    seed: int = 42,
    user_col: str = "userId",
    item_col: str = "movieId",
    rating_col: str = "rating",
    implicit_prefs: bool = False,
    alpha: float = 1.0,
) -> ALSResult:
    """Fit ALS and return exploded top-k recommendations per user.

    ``implicit_prefs=True`` switches to the implicit-feedback objective
    (Hu/Koren/Volinsky): ratings become confidence weights
    ``1 + alpha·r`` over binary preference — the right mode when the
    signal is counts (views, clicks, purchases) rather than explicit
    scores. Same factor shapes, same recommend path.
    """
    from pyspark.ml.recommendation import ALS

    als = ALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        coldStartStrategy="drop",
        seed=seed,
        implicitPrefs=implicit_prefs,
        alpha=alpha,
    )
    model = als.fit(train)
    recs = model.recommendForAllUsers(k)
    exploded = recs.select(
        user_col, F.posexplode("recommendations").alias("pos", "rec")
    ).select(user_col, F.col("rec." + item_col).alias(item_col), "pos")
    return ALSResult(model=model, recommendations=exploded)
