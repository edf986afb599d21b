"""Shared reference/lookup data — the INFX concept-map analog.

The reference reads concept maps from a second, shared bucket
(``OCIClient.kt:78-80`` ``getObjectFromINFX``, default bucket
``infx-shared``), used to translate codes across systems. The engine
equivalent: small reference tables stored under the lake root's
``reference/`` prefix and ALWAYS broadcast into enrichment joins —
a concept map is KBs-to-MBs while the fact side is TBs, so the join
must never shuffle the facts (SURVEY §2.A R14: "the INFX concept-map
read maps to a broadcast-able reference/lookup table").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.session import DatalakeSession

REFERENCE_PREFIX = "reference"


def _concept_map_table(session: DatalakeSession, name: str) -> TxnTable:
    return TxnTable(session, f"{REFERENCE_PREFIX}/{name}")


def publish_concept_map(
    session: DatalakeSession, name: str, mapping: DataFrame
) -> None:
    """Store a concept map (overwrite-whole semantics: maps are small
    and versioned by republish, like the shared-bucket objects). The
    replace is one atomic ``TxnTable`` commit, so a reader sees the old
    map or the new one, never a half-written directory."""
    _concept_map_table(session, name).overwrite(mapping.coalesce(1))


def load_concept_map(session: DatalakeSession, name: str) -> DataFrame:
    return _concept_map_table(session, name).read()


def enrich_with_concept_map(
    facts: DataFrame,
    concept_map: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Broadcast-join enrichment; left join keeps unmapped codes
    (NULL target) so mapping gaps are visible, not silently dropped."""
    return facts.join(F.broadcast(concept_map), on, how)
