"""Broadcast-join enrichment against the service catalog.

Semantics rebuilt from the reference's metadata-enrichment step — each payload is
tagged with routing metadata before the sink (/root/reference/pkg/metadata/data.go:58-98
and the per-source call sites, e.g. /root/reference/source/slack/slack.go:174-179) —
generalized to a relational lookup: (tool, role) → (service, category,
default_severity).

One path: the catalog is tiny (≤ a few hundred rows) so we FORCE a broadcast
hash join: no shuffle of the 10^12-row fact side, the dimension ships to every
executor once, and building the plan runs no driver-side job. Left join keeps
catalog-miss rows (unknown tools) flowing, with 'unknown' fallbacks — the
reference's unknown-schema-hint behavior
(/root/reference/source/falcon_data_replicator/client.go:195-198).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENRICH_KEYS = ("tool", "role")


def enrich_turns(parsed: DataFrame, catalog: DataFrame) -> DataFrame:
    """Enrich parsed turns with the service catalog by a forced broadcast
    left join on (tool, role).

    Adds: service, category (both 'unknown' on miss) and resolves severity as
    coalesce(parsed severity, catalog default_severity, 'unknown'). Plain
    left-join semantics hold for any catalog: a NULL key never matches, and a
    duplicated (tool, role) key yields one output row per catalog match.
    Lazy: the catalog is read by the query that uses the result, never
    collected to the driver here."""
    joined = parsed.join(F.broadcast(catalog), on=list(ENRICH_KEYS), how="left")
    return joined.withColumns(
        {
            "service": F.coalesce(F.col("service"), F.lit("unknown")),
            "category": F.coalesce(F.col("category"), F.lit("unknown")),
            "severity": F.coalesce(
                F.col("severity"), F.col("default_severity"), F.lit("unknown")
            ),
        }
    ).drop("default_severity")
