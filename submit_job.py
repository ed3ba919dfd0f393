"""Thin spark-submit wrapper (relative imports need a package context):

    zip -r osm_notes_ingestion_spark.zip osm_notes_ingestion_spark
    spark-submit --master local[32] --py-files osm_notes_ingestion_spark.zip \
        submit_job.py --job assign --sf-dir /root/testdata/sf0.1 --output /tmp/out

For a cold start from the class-data-sharing archive, see the runner's
module docstring (osm_notes_ingestion_spark/runner.py).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_notes_ingestion_spark.runner import main

if __name__ == "__main__":
    main()
