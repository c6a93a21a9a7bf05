"""Chunk <-> point reshaping and source dispatch (SURVEY.md §2.2 P10,
§2.1 S3, §2.8 F5/F9).

The reference flattens chunks into vector-DB points
(BaseDocumentChunk.to_vector_db, /root/reference/models/document.py:88-106)
and reconstructs them with str->int coercion
(from_metadata, /root/reference/models/document.py:28-70). Here both
directions are pure column expressions: the "point" is a struct with a
map<string,string> payload (mirroring the reference's sanitize-to-
primitive rule, /root/reference/service/embedding.py:129-151), and the
inverse uses try_cast for the reference's isdigit-guarded int coercion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# suffix -> source_type, mirroring /root/reference/models/file.py:20-34
_EXT_MAP = {
    "pdf": "PDF", "docx": "DOCX", "txt": "TXT", "pptx": "PPTX",
    "md": "MARKDOWN", "csv": "CSV", "xlsx": "XLSX", "html": "HTML",
    "htm": "HTML", "json": "JSON", "eml": "EML", "msg": "MSG",
}


def source_type_expr(url_col: str = "url"):
    """File-type dispatch from the url extension (S3,
    /root/reference/models/file.py:42-53); unknown/absent extensions map
    to HTML (the webtext payload default) instead of raising."""
    ext = F.lower(F.regexp_extract(F.col(url_col), r"\.([A-Za-z0-9]+)(?:\?.*)?$", 1))
    expr = F.lit("HTML")
    mapping = F.create_map(*[F.lit(x) for kv in _EXT_MAP.items() for x in kv])
    return F.coalesce(mapping[ext], expr).alias("source_type")


# the reference's STRUCTURED_DATA mimetypes (xlsx/csv/json,
# /root/reference/service/router.py:15-19) expressed as source_types
STRUCTURED_SOURCE_TYPES = ["XLSX", "CSV", "JSON"]

CODE_BLOCK_PATTERN = r"(?s)```(?:python)?(.*?)```"


def is_structured_expr(source_type_col="source_type"):
    """P5: the structured-filetype predicate that gates interpreter mode
    (/root/reference/service/router.py:51-53)."""
    return F.col(source_type_col).isin(STRUCTURED_SOURCE_TYPES)


def extract_code_block(text: str) -> str:
    """F10: first fenced code block, python tag optional — mirror of
    CodeInterpreterService.extract_code
    (/root/reference/service/code_interpreter.py:132-137)."""
    import re

    matches = re.findall(r"```(?:python)?(.*?)```", text, re.DOTALL)
    return matches[0].strip() if matches else ""


def code_block_expr(text_col="content"):
    """F10 as a column: (?s) replaces re.DOTALL in Java regex, and the
    regex whitespace trim matches Python str.strip() (Spark's trim()
    strips spaces only, not newlines)."""
    block = F.regexp_extract(F.col(text_col), CODE_BLOCK_PATTERN, 1)
    return F.regexp_replace(F.regexp_replace(block, r"^\s+", ""), r"\s+$", "")


def route_interpreter(chunks_df: DataFrame, interpreter_mode: bool) -> DataFrame:
    """The routing DECISION of the reference's interpreter branch
    (/root/reference/service/router.py:55-69): marks rows where a
    structured source + interpreter_mode would divert the query to the
    code sandbox. The sandbox execution itself (LLM code-gen + e2b,
    code_interpreter.py:139-167) is out of scope per the north rule —
    this returns the flag so a caller can partition the batch, exactly
    where the reference calls CodeInterpreterService."""
    df = chunks_df
    if "source_type" not in df.columns:
        df = df.withColumn("source_type", source_type_expr("url"))
    return df.withColumn(
        "use_interpreter",
        is_structured_expr() & F.lit(bool(interpreter_mode)))


def chunks_to_points(chunks_df: DataFrame) -> DataFrame:
    """P10 forward: chunk row -> (id, payload map<string,string>).
    Everything stringified, like the reference's vector-DB metadata."""
    payload = F.create_map(
        F.lit("chunk_id"), F.col("chunk_id"),
        F.lit("document_id"), F.col("doc_id").cast("string"),
        F.lit("doc_url"), F.col("url"),
        F.lit("chunk_index"), F.col("chunk_index").cast("string"),
        F.lit("title"), F.col("title"),
        F.lit("content"), F.col("content"),
        F.lit("token_count"), F.col("token_count").cast("string"),
        F.lit("source_type"), source_type_expr("url"),
    )
    return chunks_df.select(F.col("chunk_id").alias("id"), payload.alias("payload"))


def points_to_chunks(points_df: DataFrame) -> DataFrame:
    """P10 inverse with F9 try_cast int coercion
    (/root/reference/models/document.py:50-61)."""
    p = F.col("payload")
    return points_df.select(
        p.getItem("chunk_id").alias("chunk_id"),
        p.getItem("document_id").try_cast("long").alias("doc_id"),
        p.getItem("doc_url").alias("url"),
        p.getItem("chunk_index").try_cast("int").alias("chunk_index"),
        p.getItem("title").alias("title"),
        p.getItem("content").alias("content"),
        p.getItem("token_count").try_cast("int").alias("token_count"),
    )
