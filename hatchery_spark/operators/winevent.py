r"""Windows Event Log XML: render transcript turns as Windows
event-forwarding XML (the <Event><System>…</System><EventData>…
</EventData></Event> shape every WEF/WinRM collector ships) and parse
them back with Spark's NATIVE XML reader — both directions stay on the
JVM, zero UDFs.

Render is one codegen'd concat Project with the three-entity XML
escape (&amp; first, then &lt;/&gt; — order matters: escaping '<'
before '&' would double-escape) applied to every text-derived value;
a fixed MARKER Data value containing all escapable characters rides on
every event so the escape→unescape inverse is proven per row, while
``Message`` carries the turn text itself (the per-turn text-equality
invariant through the XML framing).

Parse is ``from_xml`` with an explicit schema: attribute binding
(``_Name``, ``_SystemTime``), typed element values, and the repeated
``<Data Name=…>`` array extracted by name via a filter lambda — by
NAME, not position, the W3C-directive/IPFIX-template posture in its
XML form. Catalyst sees a plain Project over from_xml, so the whole
parse stays inside WholeStageCodegen input boundaries (the XML parser
itself is the JVM StaxXmlParser — still no Python).

Scale shape: both directions are narrow row-wise Projects — no
shuffle, no UDF, no state. Reference analog: the per-source structured
decode stage, source/*/client.go.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# every escapable character + a quote, fixed per event; no surrounding
# whitespace — from_xml's ignoreSurroundingSpaces trims element edges
MARKER = '<&"e as ter>'

EVENT_SCHEMA = (
    "STRUCT<System: STRUCT<Provider: STRUCT<_Name: STRING>, "
    "EventID: BIGINT, TimeCreated: STRUCT<_SystemTime: STRING>, "
    "Computer: STRING>, "
    "EventData: STRUCT<Data: ARRAY<STRUCT<_Name: STRING, _VALUE: STRING>>>>"
)

DATA_FIELDS = ["SubjectUserName", "Conv", "Turn", "Message", "Marker"]


def _esc(c: Column) -> Column:
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit('"'), F.lit("&quot;"))


_SEVERITY_EVENT_ID = [
    ("debug", 100), ("info", 200), ("warn", 300),
    ("error", 4625), ("critical", 4719),
]
_DEFAULT_EVENT_ID = 1000  # free-form turns carry no severity prefix


def _event_id_col(text: Column) -> Column:
    out = F.lit(_DEFAULT_EVENT_ID)
    for sev, eid in _SEVERITY_EVENT_ID:
        out = F.when(text.startswith(f"[{sev}]"), eid).otherwise(out)
    return out


def _event_id_sql() -> str:
    whens = " ".join(
        f"WHEN text LIKE '[{sev}]%' THEN {eid}"
        for sev, eid in _SEVERITY_EVENT_ID
    )
    return f"CASE {whens} ELSE {_DEFAULT_EVENT_ID} END"


def render_winevent(turns: DataFrame) -> DataFrame:
    """turns → (xml string): one <Event> document per turn."""
    uid = F.substring("conv_id", 6, 32).cast("long")
    data = {
        "SubjectUserName": F.concat(F.lit("user"), uid.cast("string")),
        "Conv": F.col("conv_id"),
        "Turn": F.col("turn_idx").cast("string"),
        "Message": F.col("text"),
        "Marker": F.lit(MARKER),
    }
    data_xml = F.concat(*[
        F.concat(F.lit(f'<Data Name="{name}">'), _esc(col),
                 F.lit("</Data>"))
        for name, col in data.items()
    ])
    xml = F.concat(
        F.lit('<Event><System><Provider Name="'), _esc(F.col("tool")),
        F.lit('"/><EventID>'), _event_id_col(F.col("text")).cast("string"),
        F.lit('</EventID><TimeCreated SystemTime="'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        F.lit('"/><Computer>host-'), (uid % 16).cast("string"),
        F.lit("</Computer></System><EventData>"), data_xml,
        F.lit("</EventData></Event>"),
    )
    return turns.select(xml.alias("xml"))


def parse_winevent(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """(xml) → typed rows, Data fields bound by Name."""
    e = F.from_xml(F.col(xml_col), EVENT_SCHEMA)
    parsed = df.select(e.alias("e"))

    def by_name(name: str) -> Column:
        return F.expr(
            f"filter(e.EventData.Data, d -> d._Name = '{name}')[0]._VALUE"
        )

    return parsed.select(
        F.col("e.System.Provider._Name").alias("provider"),
        F.col("e.System.EventID").alias("event_id"),
        F.col("e.System.TimeCreated._SystemTime").alias("system_time"),
        F.col("e.System.Computer").alias("computer"),
        by_name("SubjectUserName").alias("user_name"),
        by_name("Conv").alias("conv_id"),
        by_name("Turn").cast("long").alias("turn_idx"),
        by_name("Message").alias("message"),
        by_name("Marker").alias("marker"),
    )


def winevent_oracle_sql(transcripts_sql: str) -> str:
    """DuckDB replay: every parsed field from the source turns. The
    marker literal is the UNESCAPED form — the parse must invert the
    render's entity escaping exactly or the value equality fails on
    every row."""
    marker_sql = MARKER.replace("'", "''")
    return f"""
        WITH t AS ({transcripts_sql}),
        u AS (
          SELECT *, cast(substring(conv_id, 6) AS bigint) AS uid FROM t
        )
        SELECT tool AS provider,
               cast({_event_id_sql()} AS bigint) AS event_id,
               strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') AS system_time,
               'host-' || cast(uid % 16 AS varchar) AS computer,
               'user' || cast(uid AS varchar) AS user_name,
               conv_id,
               cast(turn_idx AS bigint) AS turn_idx,
               text AS message,
               '{marker_sql}' AS marker
        FROM u"""
