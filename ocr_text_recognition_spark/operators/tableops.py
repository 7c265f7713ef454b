"""Tabularization operators (SURVEY.md §2.4 / D5-D7) — pure Spark SQL.

- header inference: first row promoted iff >50% of its cells are
  non-numeric (/root/reference/src/services/table_ocr_service.py:309-336)
- row padding to max width with '' (table_ocr_service.py:297-304)
- synthetic column names Column_{i} (table_ocr_service.py:313)
- grades document assembly {student, class, grades:[{subject, ...}]}
  (enhanced_table_ocr_service.py:545-593)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_text_recognition_spark.operators.textops import grade_cast, is_numeric

# Header keywords for grade-table column classification
# (/root/reference/src/services/enhanced_table_ocr_service.py:560-567).
SUBJECT_KEYWORDS = ("môn", "subject", "tên môn")
GRADE_KEYWORDS = ("hk1", "hk2", "học kỳ", "semester", "điểm", "grade", "final", "cuối kỳ")


def classify_columns(headers: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """(doc, col_idx, header) -> (doc, col_idx, header, role) with role in
    {'subject', 'grade', 'other'}.

    Mirrors the reference loop (enhanced_table_ocr_service.py:560-571)
    exactly:
    - a column whose lowercased header CONTAINS a subject keyword is a
      subject candidate; the LAST such column wins (the loop overwrites),
      earlier candidates become 'other';
    - else a column containing a grade keyword is 'grade';
    - if NO subject keyword matched anywhere in the doc, the whole doc
      falls back to positional: first column subject, ALL others grade
      (the fallback overwrites keyword-matched grade_cols too).

    Pure Spark SQL (contains + window max), no UDF — one narrow pass plus
    one per-doc window, scale-safe at any header count.
    """
    h = F.lower(F.trim(F.col("header")))
    is_subj = None
    for kw in SUBJECT_KEYWORDS:
        cond = h.contains(kw)
        is_subj = cond if is_subj is None else (is_subj | cond)
    is_grade = None
    for kw in GRADE_KEYWORDS:
        cond = h.contains(kw)
        is_grade = cond if is_grade is None else (is_grade | cond)

    tagged = headers.select(
        doc_col,
        "col_idx",
        "header",
        is_subj.alias("subj_kw"),
        ((~is_subj) & is_grade).alias("grade_kw"),
    )
    w = Window.partitionBy(doc_col)
    tagged = tagged.withColumn(
        "last_subj_col",
        F.max(F.when(F.col("subj_kw"), F.col("col_idx"))).over(w),
    ).withColumn("min_col", F.min("col_idx").over(w))
    role = (
        F.when(
            F.col("last_subj_col").isNull(),  # positional fallback
            F.when(F.col("col_idx") == F.col("min_col"), F.lit("subject")).otherwise(
                F.lit("grade")
            ),
        )
        .when(F.col("col_idx") == F.col("last_subj_col"), F.lit("subject"))
        .when(F.col("grade_kw"), F.lit("grade"))
        .otherwise(F.lit("other"))
    )
    return tagged.select(doc_col, "col_idx", "header", role.alias("role"))


def header_score(cells: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Long-format cells (doc, row_idx, col_idx, value) -> per-doc header
    verdict: the count of non-numeric, non-empty first-row cells must
    exceed half the row width."""
    first_row = cells.filter(F.col("row_idx") == 0)
    return first_row.groupBy(doc_col).agg(
        F.sum(
            F.when((~is_numeric(F.col("value"))) & (F.trim("value") != ""), 1).otherwise(0)
        ).alias("non_numeric_cells"),
        F.count("*").alias("row_width"),
    ).select(
        doc_col,
        "non_numeric_cells",
        "row_width",
        (F.col("non_numeric_cells") * 2 > F.col("row_width")).alias("has_header"),
    )


def pad_rows(rows: DataFrame, doc_col: str = "doc_id", cells_col: str = "cells") -> DataFrame:
    """Per-doc: pad every row array to the doc's max width with ''."""
    w = rows.groupBy(doc_col).agg(F.max(F.size(cells_col)).alias("max_cols"))
    return rows.join(w, doc_col).select(
        doc_col,
        "row_idx",
        F.concat(
            F.col(cells_col),
            F.array_repeat(F.lit(""), F.col("max_cols") - F.size(cells_col)),
        ).alias(cells_col),
    )


def assemble_wide_table(cells: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """The reference's full tabularization step in one operator
    (_create_dataframe_from_table_data + _is_header_row,
    /root/reference/src/services/table_ocr_service.py:284-336): pad every
    doc's grid to its max width with '', then promote the first row to
    column names iff the table has >1 row AND most padded first-row cells
    are non-empty non-numeric (`cell and not _is_numeric(cell)` — the
    UN-trimmed truthiness test, so padded '' cells count against the
    majority); otherwise synthesize Column_{i+1} names and keep row 0 as
    data.

    Long-format in (doc, row_idx, col_idx, value; holes allowed), long
    out: (doc, row_out, col_idx, col_name, value, has_header). Shuffle
    shape: one per-doc dims aggregate, a sequence-explode slot expansion
    (no extra shuffle — reuses the doc partitioning), one left join to
    fill holes, and two doc-keyed broadcast-sized joins (header flag, one
    row per doc; header names, one row per (doc, col))."""
    dims = cells.groupBy(doc_col).agg(
        (F.max("col_idx") + 1).cast("int").alias("max_cols"),
        (F.max("row_idx") + 1).cast("int").alias("n_rows"),
    )
    slots = (
        dims.select(
            doc_col, "max_cols", "n_rows",
            F.explode(F.sequence(F.lit(0), F.col("n_rows") - 1)).alias("row_idx"),
        )
        .select(
            doc_col, "max_cols", "n_rows",
            F.col("row_idx").cast("int").alias("row_idx"),
            F.explode(F.sequence(F.lit(0), F.col("max_cols") - 1)).alias("col_idx"),
        )
        .select(
            doc_col, "max_cols", "n_rows", "row_idx",
            F.col("col_idx").cast("int").alias("col_idx"),
        )
    )
    padded = slots.join(cells, [doc_col, "row_idx", "col_idx"], "left").select(
        doc_col, "max_cols", "n_rows", "row_idx", "col_idx",
        F.coalesce(F.col("value"), F.lit("")).alias("value"),
    )
    flag = (
        padded.filter(F.col("row_idx") == 0)
        .groupBy(doc_col, "max_cols", "n_rows")
        .agg(
            F.sum(
                ((F.col("value") != "") & (~is_numeric(F.col("value")))).cast("int")
            ).alias("text_count")
        )
        .select(
            doc_col,
            (
                (F.col("n_rows") > 1) & (F.col("text_count") * 2 > F.col("max_cols"))
            ).alias("has_header"),
        )
    )
    names = padded.filter(F.col("row_idx") == 0).select(
        doc_col, "col_idx", F.col("value").alias("header_val")
    )
    return (
        padded.join(flag, doc_col)
        .join(names, [doc_col, "col_idx"])
        .filter((~F.col("has_header")) | (F.col("row_idx") > 0))
        .select(
            doc_col,
            F.when(F.col("has_header"), F.col("row_idx") - 1)
            .otherwise(F.col("row_idx"))
            .cast("int")
            .alias("row_out"),
            "col_idx",
            F.when(F.col("has_header"), F.col("header_val"))
            .otherwise(
                F.concat(F.lit("Column_"), (F.col("col_idx") + 1).cast("string"))
            )
            .alias("col_name"),
            "value",
            "has_header",
        )
    )


def grades_rows(
    cells: DataFrame, doc_col: str = "doc_id", keyword_headers: bool = False
) -> DataFrame:
    """Long-format grade-table cells -> one row per (doc, data row) with the
    subject column and grade columns cast numerically where possible.

    ``keyword_headers=False``: positional classification (first col =
    subject, rest = grades — the reference fallback,
    enhanced_table_ocr_service.py:568-571). ``keyword_headers=True``: the
    header row (row_idx == 0) is classified by keyword via
    classify_columns (enhanced:560-567), and the roles join back onto the
    data rows — a broadcast-sized join (one row per (doc, column))."""
    data = cells.filter(F.col("row_idx") > 0)
    if keyword_headers:
        roles = classify_columns(
            cells.filter(F.col("row_idx") == 0).select(
                doc_col, "col_idx", F.col("value").alias("header")
            ),
            doc_col,
        )
        data = data.join(roles.select(doc_col, "col_idx", "role"), [doc_col, "col_idx"])
        subjects = data.filter(F.col("role") == "subject").select(
            doc_col, "row_idx", F.col("value").alias("subject")
        )
        grades = data.filter(F.col("role") == "grade")
    else:
        subjects = data.filter(F.col("col_idx") == 0).select(
            doc_col, "row_idx", F.col("value").alias("subject")
        )
        grades = data.filter(F.col("col_idx") > 0)
    grades = grades.select(
        doc_col,
        "row_idx",
        "col_idx",
        grade_cast(F.col("value")).alias("grade_num"),
        F.col("value").alias("grade_raw"),
    )
    return subjects.join(grades, [doc_col, "row_idx"])


def grades_json(cells: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Assemble the per-document grades JSON document (D7)."""
    rows = grades_rows(cells, doc_col)
    per_row = rows.groupBy(doc_col, "row_idx", "subject").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("col_idx"), F.col("grade_num"), F.col("grade_raw")))
        ).alias("g")
    )
    per_doc = per_row.groupBy(doc_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("row_idx"), F.col("subject"), F.col("g")))
        ).alias("rows")
    )
    return per_doc.select(
        doc_col,
        F.to_json(
            F.struct(
                F.transform(
                    "rows",
                    lambda r: F.struct(
                        r["subject"].alias("subject"),
                        F.transform(r["g"], lambda x: x["grade_num"]).alias("grades"),
                    ),
                ).alias("grades")
            )
        ).alias("grades_json"),
    )
