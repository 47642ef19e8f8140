"""TREC 6-column run-file source + sink (SURVEY §2.1, S6-S9).

Reference: ``final-project/src/trec_io.py`` — writer for scored runs
(:51-77), writer for ranked lists (:11-48), reader (:80-120), submission
merge (:123-142). Format (reference README.md:138-144):

    qid Q0 docid rank score run_name

scores ``%.6f``; <=1000 docs per query; 1-based ranks by score desc; output
qid order is ``(len(qid), qid)`` — string qids sort numerically that way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import rank_desc


def format_run(run: DataFrame, run_name: str, max_docs: int = 1000) -> DataFrame:
    """(qid, docid, score) -> formatted TREC lines + sort keys."""
    return (
        rank_desc(run, "score", "docid", k=max_docs)
        .select(
            F.length("qid").alias("_qlen"),
            "qid", "rank",
            F.format_string("%s Q0 %s %d %.6f %s",
                            F.col("qid"), F.col("docid").cast("string"),
                            F.col("rank"), F.col("score").cast("double"),
                            F.lit(run_name)).alias("value"),
        )
    )


def write_run(run: DataFrame, path: str, run_name: str,
              max_docs: int = 1000) -> None:
    """Single TREC run file at `path` (reference trec_io.py:51-77).

    Streams through a sorted single-partition text write instead of
    collecting to the driver: the sort/format work happens executor-side
    and only file bytes move, so a 10^5-query run never materializes as
    driver Row objects. Byte-identical output to the old collect loop
    (golden-tested)."""
    import glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="trec_run_", dir=os.path.dirname(
        os.path.abspath(path)) or ".")
    try:
        (format_run(run, run_name, max_docs)
         .coalesce(1)
         .sortWithinPartitions("_qlen", "qid", "rank")
         .select("value")
         .write.mode("overwrite").text(tmp))
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(path, "wb") as out:
            for p in parts:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_run(spark, path: str) -> DataFrame:
    """TREC run file -> run(qid, docid, rank, score) (trec_io.py:80-120)."""
    df = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return df.select(
        parts.getItem(0).alias("qid"),
        parts.getItem(2).alias("docid"),
        parts.getItem(3).cast("int").alias("rank"),
        parts.getItem(4).cast("double").alias("score"),
    ).filter(F.col("docid").isNotNull())


def merge_submissions(spark, in_paths: list[str], out_paths: list[str],
                      run_names: list[str] | None = None) -> None:
    """Re-number/rename runs to run_{i}.res (trec_io.py:123-142)."""
    for i, (src, dst) in enumerate(zip(in_paths, out_paths)):
        run = read_run(spark, src)
        name = (run_names[i] if run_names else f"run_{i + 1}")
        write_run(run.select("qid", "docid", "score"), dst, name)
