"""Intent routing over a task/query log (mcp/smart-router.ts batch
face).

The reference parses one natural-language task per MCP call; the
batch engine classifies a whole log table in one vectorized pass —
the analytics face of the same rules (intent mix per day, which
domains users act on vs read, how many tasks carry a structured-
format ask).  One Arrow UDF, no shuffle; params flatten into typed
columns instead of a map so downstream filters stay codegen-friendly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_ROUTED = ("struct<intent:string,url:string,query:string,"
           "viewport_width:int,viewport_height:int,full_page:boolean,"
           "format:string,summary:boolean,mode:string,compare_url:string>")


@pandas_udf(_ROUTED)
def _route(tasks: pd.Series) -> pd.DataFrame:
    from webpeel_spark.pure.smart_router import parse_intent

    rows = []
    for t in tasks:
        r = parse_intent(t or "")
        p = r["params"]
        vp = p.get("viewport") or {}
        rows.append((r["intent"], r["url"], r["query"],
                     vp.get("width"), vp.get("height"),
                     p.get("fullPage"), p.get("format"),
                     p.get("summary"), p.get("mode"),
                     p.get("compare_url")))
    return pd.DataFrame(rows, columns=[
        "intent", "url", "query", "viewport_width", "viewport_height",
        "full_page", "format", "summary", "mode", "compare_url"])


def route_intents(df: DataFrame, task_col: str = "task") -> DataFrame:
    """Adds the parsed-intent columns to a task-log table."""
    out = df.withColumn("__r", _route(F.col(task_col)))
    for c in ("intent", "url", "query", "viewport_width",
              "viewport_height", "full_page", "format", "summary",
              "mode", "compare_url"):
        out = out.withColumn(c, F.col(f"__r.{c}"))
    return out.drop("__r")
