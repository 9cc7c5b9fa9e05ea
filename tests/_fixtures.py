"""Shared planted-corpus builders for the documents-table tests: ONE
definition of the (doc_id, text, lang, source, n_chars=len(text)) pyarrow
shape so the per-suite fixtures cannot drift apart schema-wise. Also the
planted media mix that the media-health tests compare the fused operator
against, and a job-group runner for tests that count the Spark jobs a call
runs.

Not collected by pytest (leading underscore); test modules import it via
pytest's rootdir sys.path insertion.
"""

from __future__ import annotations


def planted_docs_table(rows):
    """pyarrow table in the documents schema from (doc_id, text, lang,
    source) tuples; n_chars is derived as len(text) like the testdata."""
    import pyarrow as pa

    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )


def write_planted_corpus(dirpath, rows) -> str:
    """Write rows as <dirpath>/documents.parquet (a valid sf_dir for the
    documents-only queries); creates the directory if needed."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(str(dirpath), exist_ok=True)
    pq.write_table(planted_docs_table(rows), f"{dirpath}/documents.parquet")
    return str(dirpath)


def planted_media_table(rows):
    """pyarrow table in the (doc_id, source, content) media-stream schema:
    content is the q220 planting substrate's deterministic real-format
    blob per doc_id (operators.multimodal._mix_blob via the shared
    mediakit builders) — ONE definition for every streaming media test."""
    import pyarrow as pa

    from big_data_computing_final_project_spark.operators.multimodal import _mix_blob

    return pa.table(
        {
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "source": pa.array([s for _, s in rows], pa.string()),
            "content": pa.array([_mix_blob(i) for i, _ in rows], pa.binary()),
        }
    )


def attach_media_mix(docs):
    """(doc_id, source) -> (doc_id, source, content): plant the
    deterministic real-format mix (operators.multimodal._mix_blob) as a
    binary column, one blob per doc. ``decode_health(attach_media_mix(docs))``
    is the two-pass reference that operators.multimodal.media_health fuses
    into one pass."""
    from big_data_computing_final_project_spark.operators.multimodal import _plant

    return docs.select("doc_id", "source").mapInPandas(
        lambda it: map(_plant, it), "doc_id long, source string, content binary"
    )


def run_in_job_group(spark, group, fn):
    """Run ``fn()`` under Spark job group ``group``; return its result and
    the stage names of every job it ran, one list per job, after all of
    them have finished."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    deadline = time.time() + 30
    while time.time() < deadline and any(
        st.getJobInfo(j) is None or st.getJobInfo(j).status == "RUNNING" for j in jobs
    ):
        time.sleep(0.2)
    stages = [
        [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
        for j in jobs
    ]
    return out, stages
