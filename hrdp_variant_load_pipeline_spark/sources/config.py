"""Config-map source (SURVEY.md §2.1 S10).

The reference inflates a Spring XML bean carrying the sample-name → sample-id
maps (146 entries per assembly), the target map key, and input paths
(``AppConfigure.xml:5-314``, consumed at ``HrdpVariants.java:571-585``).
Here the same surface is a plain dict / JSON file that becomes a broadcast
sample dimension — small-dimension config enters the plan as data, never as
driver-side lookups inside a loop.

Created-sample defaults reproduce the reference's declared values
(``HrdpVariants.java:66-83``): gender ``U``, patient id 380, grant
``R24OD022617``, HRDP description.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from hrdp_variant_load_pipeline_spark.runtime import local_frame
from hrdp_variant_load_pipeline_spark.schemas import SAMPLE

#: reference defaults for newly-created samples (HrdpVariants.java:66-83)
SAMPLE_DEFAULTS = {
    "gender": "U",
    "patient_id": 380,
    "grant_number": "R24OD022617",
    "description": "Dr. Mindy Dwinell - Hybrid rat diversity program",
}


def load_config(path: str) -> dict[str, Any]:
    """Read the engine config (JSON): ``{"map_key": int, "input_dir": str,
    "samples": {analysis_name: sample_id, ...}}`` — the Spring-XML
    equivalent surface."""
    with open(path) as f:
        return json.load(f)


def samples_dimension(
    spark: SparkSession,
    sample_ids: dict[str, int],
    map_key: int,
) -> DataFrame:
    """Build the ``samples`` dimension from a name→id config map.

    One row per sample column the VCF header may reference; the load maps
    header names to sample ids through it, replacing the reference's
    per-column JDBC lookups (``HrdpVariants.java:97-110``). A driver-local
    frame (``runtime.local_frame``): the load reads its rows without a job.
    The strain RGD id is left null: the config carries none.
    """
    rows = [
        (
            sid,
            name,
            SAMPLE_DEFAULTS["gender"],
            SAMPLE_DEFAULTS["patient_id"],
            map_key,
            None,
            SAMPLE_DEFAULTS["description"],
            SAMPLE_DEFAULTS["grant_number"],
        )
        for name, sid in sorted(sample_ids.items())
    ]
    return local_frame(spark, rows, SAMPLE)
