"""End-to-end document-ETL plan — the orchestrator restated (SURVEY §3).

The reference wires two levels of LangGraph state machines: an
orchestrator that routes by document type
(workflow_orchestator.py:166-188) and a per-type
Extract→Transform→Load→Final pipeline (workflow_base.py:44-55). Here
the whole thing is ONE declarative plan over a requests DataFrame, run
as one pass per batch:

1. **extract + route (S4/W1 + A1 + C2/C3)** — one select over every
   request decodes the payload, refines the period month/year and
   computes the ``flow`` column: REGISTRATION →
   inscripciones, APPRAISAL → tasaciones, everything else → pólizas
   (the reference's default fall-through, workflow_orchestator.py:61-71).
   The truncated first-pages concat goes to ``document_content_total``
   and the FULL text to ``document_content_llm`` — the reference's
   observed (swapped-looking) behavior **[B]**, reproduced deliberately
   (textract_extractor_document.py:58-68).
2. **transform (A2-A4)** — per domain, the LLM port via
   Arrow-batched ``mapInPandas`` over that flow's extracted rows; the
   request columns ride through the port as key columns, so no join
   reattaches them.
3. **load (K1/K2 + F8)** — the three domains' rows reunite with
   ``unionByName`` (each domain's fields are NULL on the others' rows)
   and feed ONE text-artifact write and ONE metadata merge; content
   columns are dropped before the metadata sink.
4. **final (A11/F10/C9/K3)** — success conjunction gates the
   notification projection; nested JSON bodies go to the chunk-by-10
   writer in one call.

Every stage is the operator already exercised by the oracle-checked
queries — this module only composes them, exactly like the reference's
graph wires its nodes. Scale: routing is a column, not a branch, so a
batch costs one action per sink whatever its domain mix; the only
keyed shuffle is the metadata merge.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sbs_suptech_etl_v2_spark.checkpointing import materialize
from sbs_suptech_etl_v2_spark.functions.scalars import refine_month_sql, refine_year_sql
from sbs_suptech_etl_v2_spark.operators.documents import (
    FIRST_PAGES,
    NOTIFICATION_TYPE,
    PAGE_WORDS,
)
from sbs_suptech_etl_v2_spark.operators.extraction import extract_structured
from sbs_suptech_etl_v2_spark.sinks.writers import (
    NotificationBatchWriter,
    merge_metadata,
    write_text_artifacts,
)

# request columns carried through the transform port as key columns
CARRIED_SCHEMA = (
    "record_id string, parent_id string, session_id string, "
    "document_type string, period_month string, period_year string, "
    "flow string, document_content_total string"
)
CARRIED_COLS = tuple(f.split(" ")[0] for f in CARRIED_SCHEMA.split(", "))

POLIZAS_FIELDS = (
    "policy_number string, policy_name string, "
    "policy_start_date string, policy_end_date string"
)
TASACIONES_FIELDS = (
    "expert_warranty_name string, tasacion_date string, "
    "commercial_value string, realization_value string, tasacion_owner string"
)
INSCRIPCIONES_FIELDS = (
    "inscription_number string, legal_name string, inscription_date string"
)

_FLOWS = (
    ("inscripciones", "llm_caller_inscripciones", INSCRIPCIONES_FIELDS),
    ("tasaciones", "llm_caller_tasaciones", TASACIONES_FIELDS),
    ("polizas", "llm_caller_polizas", POLIZAS_FIELDS),
)
EXTRACTED_COLS = [
    f.split(" ")[0] for _, _, fields in _FLOWS for f in fields.split(", ")
]


def _extract(requests: DataFrame) -> DataFrame:
    """S4/W1 + A1 + C2/C3 — decoded content, first-pages vs full split,
    success flag, the routed flow (the reference's default
    fall-through) and the refined period month/year."""
    text = F.decode(F.col("content"), "utf-8")
    words = F.split(text, " ")
    n_pages = F.ceil(F.size(words) / F.lit(PAGE_WORDS)).cast("int")
    first_pages = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.least(n_pages, F.lit(FIRST_PAGES))),
            lambda i: F.array_join(
                F.slice(words, (i - 1) * PAGE_WORDS + 1, PAGE_WORDS), " "
            ),
        ),
        "\n\n",
    )
    flow = (
        F.when(F.col("document_type") == "REGISTRATION", "inscripciones")
        .when(F.col("document_type") == "APPRAISAL", "tasaciones")
        .otherwise("polizas")
    )
    return requests.select(
        "record_id",
        "parent_id",
        "session_id",
        "document_type",
        F.expr(refine_month_sql("period_month")).alias("period_month"),
        F.expr(refine_year_sql("period_year")).alias("period_year"),
        flow.alias("flow"),
        # [B] reproduced: truncated text -> _total, full text -> _llm
        first_pages.alias("document_content_total"),
        text.alias("document_content_llm"),
        (F.length(text) > 0).alias("extract_success"),
    )


def _transform(
    extracted: DataFrame, flow: str, port_method: str, fields: str, port_factory=None
) -> DataFrame:
    """A2-A4 — one domain's port extraction (F4-gated); the carried
    request columns, refined periods included, pass through the port."""
    gated = extracted.filter((F.col("flow") == flow) & F.col("extract_success"))
    return extract_structured(
        gated.select(*CARRIED_COLS, F.col("document_content_llm").alias("content")),
        port_method,
        f"{CARRIED_SCHEMA}, {fields}",
        key_cols=CARRIED_COLS,
        port_factory=port_factory,
    ).withColumn("transform_success", F.lit(True))


def _metadata_map(transformed: DataFrame) -> DataFrame:
    """C10 — stringified open metadata map for the K2 merge. NULL values
    (a field the port did not find, or another domain's field) are
    dropped from the map."""
    entries: list = []
    for c in ["document_type", "period_month", "period_year", *EXTRACTED_COLS]:
        entries.append(F.lit(c))
        entries.append(F.col(c).cast("string"))
    return transformed.select(
        "record_id",
        F.map_filter(
            F.create_map(*entries), lambda _, v: v.isNotNull()
        ).alias("metadata"),
    )


def run_document_etl(
    spark: SparkSession,
    requests: DataFrame,
    lake_dir: str,
    notifier: NotificationBatchWriter | None = None,
    port_factory=None,
) -> DataFrame:
    """Run the full Extract→Transform→Load→Notify plan.

    ``requests`` must carry the DocumentContractState columns plus a
    binary ``content`` payload (from the listing scan or the stream
    decoder). Side effects: ``{lake_dir}/txt/*.txt`` artifacts and the
    ``{lake_dir}/metadata`` merged table. Returns the per-document
    result rows (record_id, parent_id, session_id, flow, success) after
    notifying — one per request, failed extractions included.

    The three domains' transform outputs are unioned and ``persist()``ed
    once before the first action: the batch then fires exactly one K1
    text write, one K2 metadata merge, one notify and one result
    checkpoint, whatever its domain mix. Without the persist each
    action would re-execute the ``mapInPandas`` LLM port — exactly the
    reference's double-execution bug **[B]**
    (workflow_orchestator.py:82-83) at 3× the external-call spend. The
    returned result frame is ``localCheckpoint``ed (it is small — one
    flag row per request) so the cached port output can be released
    before returning; it is released even when a sink raises.
    """
    notifier = notifier if notifier is not None else NotificationBatchWriter()
    extracted = _extract(requests)
    transformed = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            _transform(extracted, flow, port_method, fields, port_factory)
            for flow, port_method, fields in _FLOWS
        ],
    ).persist()  # one port execution per request across every action below
    try:
        # K1 — text artifacts from the executors, then F8 content drop
        write_text_artifacts(
            transformed.select(
                "record_id", F.col("document_content_total").alias("content")
            ),
            lake_dir,
        )
        loaded = transformed.drop("document_content_total").withColumn(
            "load_success", F.lit(True)
        )
        # K2 — merge the stringified metadata into the lake table
        merge_metadata(spark, f"{lake_dir}/metadata", _metadata_map(loaded))
        # F4-gated stages drop failed rows from the load path; the result
        # set keeps EVERY request with its conjunction verdict (A11) —
        # rows that never reached transform/load report success=False
        results = loaded.select(
            "record_id",
            "parent_id",
            "session_id",
            "flow",
            (F.col("transform_success") & F.col("load_success")).alias("success"),
        ).unionByName(
            extracted.filter(~F.coalesce(F.col("extract_success"), F.lit(False)))
            .select(
                "record_id",
                "parent_id",
                "session_id",
                "flow",
                F.lit(False).alias("success"),
            )
        )
        notifications = results.filter(F.col("success")).select(
            F.col("record_id").alias("recordId"),
            F.to_json(
                F.struct(
                    F.col("session_id").alias("sessionId"),
                    F.lit(NOTIFICATION_TYPE).alias("type"),
                    F.struct(
                        F.col("record_id").alias("recordId"),
                        F.col("parent_id").alias("parentId"),
                    ).alias("data"),
                )
            ).alias("body"),
        )
        notifier(notifications, batch_id=0)
        # cut the lineage of the (small) result frame so the port cache
        # can be released — callers may run further actions on it
        return materialize(results, eager=True)
    finally:
        transformed.unpersist()
