"""Condition-predicate registry (SURVEY §2.2, §2.7).

The reference's single extension point is ``condition_func(results) -> bool``
(`/root/reference/projects/ibase_project.py:9-20`, implemented at
`projects/helmet/helmet_project.py:25-55` and
`projects/person/person_project.py:25-46`). The engine generalizes it to a
registry of named *conversation-level* predicates, each a function
``DataFrame -> Column-aggregation`` evaluated per ``conv_id`` group — all
JVM-side boolean aggregates (bool_or/bool_and/count), no Python.

Each predicate returns a per-conversation DataFrame
``(conv_id, <flag/count cols>)``; ``filter_conversations`` semi-joins the
transcript stream against the qualifying set (left-semi ⇒ no row
duplication, broadcastable when the qualifying set is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Each predicate = (aggregate columns, post-aggregation condition). This
# representation lets ``qualifying_conversations`` evaluate ANY predicate
# combination in ONE hash-aggregate pass (one shuffle), instead of one
# groupBy + join per predicate.
def _exists_tool_pair_spec():
    aggs = [
        F.max(
            F.when((F.col("role") == "assistant") & F.col("tool").isNotNull(), 1)
        ).alias("_has_call"),
        F.max(
            F.when((F.col("role") == "tool") & F.col("tool").isNotNull(), 1)
        ).alias("_has_resp"),
    ]
    cond = (F.col("_has_call") == 1) & (F.col("_has_resp") == 1)
    return aggs, cond


def _forall_nonempty_tool_text_spec():
    aggs = [
        F.min(
            F.when(
                F.col("role") == "tool",
                F.when(
                    F.col("text").isNotNull() & (F.length(F.trim("text")) > 0), 1
                ).otherwise(0),
            )
        ).alias("_ok")
    ]
    cond = F.col("_ok").isNull() | (F.col("_ok") == 1)
    return aggs, cond


_SPECS = {
    "exists_tool_pair": _exists_tool_pair_spec,
    "forall_nonempty_tool_text": _forall_nonempty_tool_text_spec,
}


def qualifying_conversations(transcripts: DataFrame, names: list[str]) -> DataFrame:
    """Conversations satisfying ALL named predicates — single groupBy pass
    regardless of predicate count (one shuffle on conv_id).

    Duplicate names are collapsed (they would alias-collide in the single
    aggregate pass and add nothing semantically — AND is idempotent)."""
    deduped = list(dict.fromkeys(names))
    if not deduped:
        raise ValueError(
            "qualifying_conversations needs at least one predicate name; "
            f"registered: {sorted(_SPECS)}"
        )
    unknown = [n for n in deduped if n not in _SPECS]
    if unknown:
        raise ValueError(
            f"unknown predicate(s) {unknown}; registered: {sorted(_SPECS)}"
        )
    aggs, conds = [], None
    for n in deduped:
        a, c = _SPECS[n]()
        aggs.extend(a)
        conds = c if conds is None else (conds & c)
    return (
        transcripts.groupBy("conv_id").agg(*aggs).where(conds).select("conv_id")
    )


def exists_tool_pair(transcripts: DataFrame) -> DataFrame:
    """P5 exists-quantifier: conversation contains a tool-call turn AND a
    tool-response turn (reference: `projects/helmet/helmet_project.py:43-45`
    `any(cls == person)` per model)."""
    return qualifying_conversations(transcripts, ["exists_tool_pair"])


def forall_nonempty_tool_text(transcripts: DataFrame) -> DataFrame:
    """P6 forall-quantifier: every tool-role turn has non-empty text
    (reference: `projects/helmet/helmet_project.py:46-51` forall min-size)."""
    return qualifying_conversations(transcripts, ["forall_nonempty_tool_text"])


def exact_count(transcripts: DataFrame, role: str, n: int) -> DataFrame:
    """P7 exact-count: conversations with exactly ``n`` turns of ``role``
    (reference: `projects/person/person_project.py:35-46` exact person
    count)."""
    return (
        transcripts.groupBy("conv_id")
        .agg(F.count(F.when(F.col("role") == role, 1)).alias("_cnt"))
        .where(F.col("_cnt") == n)
        .select("conv_id")
    )


def filter_conversations(transcripts: DataFrame, qualifying: DataFrame) -> DataFrame:
    """Keep only turns of qualifying conversations. Left-semi join on the
    group key — Catalyst broadcasts the key set when small; at scale both
    sides hash-partition on conv_id (same key as every downstream op, so
    the exchange is reused)."""
    return transcripts.join(qualifying, "conv_id", "left_semi")


PREDICATES = {
    "exists_tool_pair": exists_tool_pair,
    "forall_nonempty_tool_text": forall_nonempty_tool_text,
}
