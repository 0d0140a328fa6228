"""Report summarizer (SURVEY.md §2.10 U1).

The reference attaches an LLM-generated ``fi_summary`` to each report
via one Vertex AI call, falling back to a literal error string on any
failure (/root/reference/transformer.py:246-278), gated by a PROD env
flag (:14-20). The correctness path must be deterministic and offline,
so the summary here is a template renderer over the same report fields.

The summary is computed with built-in string expressions
(format_string/concat_ws) on the one-row report DataFrame — in practice
driver-scale, but still a plan, not a collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _template_expr() -> Column:
    top = F.transform(
        F.col("top_5_vendors"),
        lambda s: F.format_string("%s ($%.2f)", s["vendor"], s["total"]),
    )
    return F.format_string(
        "Between %s and %s you spent $%.2f across %d transactions, "
        "%d categories and %d vendors. Lowest-spend vendors: %s.",
        F.col("begin_date"),
        F.col("end_date"),
        F.col("total_spent"),
        F.col("total_transactions"),
        F.size("unique_categories"),
        F.size("unique_vendors"),
        F.concat_ws(", ", top),
    )


class TemplateSummarizer:
    """Deterministic summary: renders the reference's prompt fields
    (transformer.py:250-266 enumerates them) into one sentence."""

    def summarize(self, report: DataFrame) -> DataFrame:
        """Return ``report`` with an appended ``fi_summary`` string column."""
        return report.withColumn("fi_summary", _template_expr())

