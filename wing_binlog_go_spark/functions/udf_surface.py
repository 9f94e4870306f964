"""User-extension surface: Python/Pandas UDF, grouped UDAF, UDTF.

Reference parity: the reference's extension point is its Service
interface — arbitrary Go consumers attached to the event stream
(src/library/service/service.go:3-16). The Spark engine's equivalents,
in preference order (SURVEY §2b UDF table):

1. built-in functions (JVM, codegen)           — everything in plans/
2. ``pandas_udf`` scalar / grouped-agg (Arrow) — vectorized Python
3. ``applyInPandas`` / ``mapInPandas``         — grouped-map / UDTF-like
4. row-at-a-time ``udf``                       — last resort, shown for
   completeness; ~10-100× slower than 2 (Arrow batching)

These wrappers exist so users extend the engine the supported way, and
so the relative cost is documented right where they'd reach for it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf


# pandas_udf registration needs a live SparkSession, so UDFs are built
# lazily on first use (module import must stay session-free).
_CACHE: dict[str, object] = {}


def weighted_mean(*cols):
    """Grouped-aggregate example (use inside groupBy().agg())."""
    if "wmean" not in _CACHE:

        def _wm(v: pd.Series, w: pd.Series) -> float:
            denom = w.sum()
            return float((v * w).sum() / denom) if denom else 0.0

        _CACHE["wmean"] = pandas_udf(_wm, "double")
    return _CACHE["wmean"](*cols)


def zscore_per_group(df: DataFrame, key: str, value: str) -> DataFrame:
    """applyInPandas grouped-map: per-group standardization."""
    schema = f"{key} long, {value} double, z double"

    def standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf[value].std(ddof=0) or 1.0
        return pd.DataFrame(
            {
                key: pdf[key],
                value: pdf[value],
                "z": (pdf[value] - pdf[value].mean()) / sd,
            }
        )

    return df.select(key, value).groupBy(key).applyInPandas(standardize, schema)


def explode_tokens_udtf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """mapInPandas as a UDTF: one input row → N token rows. (The built-in
    posexplode does this JVM-side — use that unless per-row Python logic
    is genuinely required.)"""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, toks, poss = [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                for p, tok in enumerate(str(txt).split()):
                    ids.append(i)
                    toks.append(tok)
                    poss.append(p)
            yield pd.DataFrame({id_col: ids, "pos": poss, "token": toks})

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, pos int, token string"
    )
