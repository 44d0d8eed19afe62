"""SQL-callable extraction functions: register the readability engine as
Arrow-batched pandas UDFs so users can call it from Spark SQL directly:

    SELECT url, a.title, a.text_content
    FROM (SELECT url, readability(url, html) AS a FROM pages WHERE readerable(html))

The heavy pipeline entry point remains plans.extract_pages (mapInPandas
with lineage); these UDFs are the ad-hoc query surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, types as T

from ..plans.schema import ARTICLE_FIELDS

# extract_record's article: every ARTICLES_SCHEMA column but the page's own
# url and warc_ts
ARTICLE_STRUCT = T.StructType(
    [f for f in ARTICLE_FIELDS if f.name not in ("url", "warc_ts")])


@F.pandas_udf(T.BooleanType())
def readerable(html: pd.Series) -> pd.Series:
    """CheckDocument as a SQL boolean (parser-check.go:25-80): the cheap
    gate, one parse and no candidate scoring."""
    from ..dom import parse_html, unlink_tree
    from ..readability import check_document

    def one(h):
        doc = None
        try:
            doc = parse_html(h if h is not None else b"")
            return bool(check_document(doc))
        except Exception:
            return False
        finally:
            if doc is not None:
                unlink_tree(doc)

    return html.map(one)


@F.pandas_udf(ARTICLE_STRUCT)
def readability(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """The full extraction (plans.extract.extract_record) as a SQL struct:
    one parse per row, never raises, per-row errors in `error`."""
    from ..plans.extract import article_frame, extract_record

    recs = [extract_record(u, h) for u, h in zip(url.tolist(), html.tolist())]
    return article_frame({c: [r[c] for r in recs]
                          for c in ARTICLE_STRUCT.fieldNames()})


def register_all(spark) -> None:
    """Make the functions available to spark.sql queries."""
    spark.udf.register("readerable", readerable)
    spark.udf.register("readability", readability)
