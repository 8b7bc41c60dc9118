"""Output-document projection — the SolrAdapter analog (SURVEY.md §2.7).

The reference's final stage flattens the merged record into a denormalized
output doc with ~50 scalar projections (solr_adapter.py:111-554, dispatched
at 558-574).  Our engine's analog projects a merged page row into the
downstream training-data document.  Everything is built-in column
expressions (codegen'd, no UDFs):

- facet hierarchy strings  (F8/F10: doctype facet solr_adapter.py:330-338,
  author facet 194-207) -> ``0/<lang>``, ``1/<lang>/<source>``
- map-lookup translation   (F13: database translation 270-280)
- multi-value collapse     (F14: comment '\\n' join 261-268)
- '; '-join with '-' dflt  (F12: affiliation join 131, 354)
- JSON re-serialization    (F11: links_data 395-405) via ``to_json(struct)``
  (field order fixed by struct order = sorted keys)
- empty-content guard      (P6: adapt drops falsy values 562-568)
- type/shape validation    (F20: 576-590) enforced by the output StructType
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: F13 analog: lang code -> collection name (reference: PHY->physics etc.)
LANG_COLLECTIONS = {
    "en": "english",
    "de": "german",
    "fr": "french",
    "es": "spanish",
    "zh": "chinese",
}


def lang_collection(col: str = "lang") -> Column:
    m = F.create_map(*[F.lit(x) for kv in LANG_COLLECTIONS.items() for x in kv])
    return F.coalesce(m[F.col(col)], F.lit("other"))


def facet_hierarchy(col_a: str, col_b: str) -> tuple[Column, Column]:
    """``0/A`` and ``1/A/B`` facet strings (F8/F10)."""
    lvl0 = F.concat_ws("/", F.lit("0"), F.col(col_a))
    lvl1 = F.concat_ws("/", F.lit("1"), F.col(col_a), F.col(col_b))
    return lvl0, lvl1


def joined_or_dash(arr: Column, sep: str = "; ") -> Column:
    """'; '.join(non-empty) else '-' (F12, solr_adapter.py:131)."""
    joined = F.array_join(F.filter(arr, lambda x: (x.isNotNull()) & (x != "")), sep)
    return F.when(F.length(joined) > 0, joined).otherwise(F.lit("-"))


def empty_to_null(c: Column) -> Column:
    """P6 guard: empty strings are dropped (null) in the output doc."""
    return F.when((c.isNotNull()) & (F.length(c) > 0), c)