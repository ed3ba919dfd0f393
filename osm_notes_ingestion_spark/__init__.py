"""osm_notes_ingestion_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing semantics of
OSMLatam/OSM-Notes-Ingestion (reference snapshot at /root/reference/,
2025-10-31), re-expressed Spark-first:

- coordinate extraction from web-page HTML via an Arrow-native mapInArrow
  kernel (reference: awk/extract_notes.awk state machine);
- geocell (quadtree) indexing + broadcast cell-cover join + exact
  even-odd point-in-polygon refinement (reference: get_country() plpgsql
  loop over zone-priority candidates,
  sql/functionsProcess_21_createFunctionToGetCountry.sql);
- web-mercator z/x/y raster-tile rollups (reference: wms.notes_wms +
  GeoServer, sql/wms/prepareDatabase.sql);
- kNN via cell-ring expansion (generalizes the reference's
  "neighboring candidates in priority order");
- incremental merge / dedup / status-fold / guarded watermark
  (reference: processAPINotes_3x sql + update_note() trigger);
- checkpoint/resume (reference: backup_note_locations CSV checkpoint);
- training-data ops: exact/MinHash-LSH/SimHash/Jaccard dedup, ANN
  similarity, language-ID, quality scoring, fingerprinting.

Everything is DataFrame/Catalyst-first; Python appears only in
Arrow-vectorized UDFs (extraction, PIP refinement), never per-row.
"""

__version__ = "0.1.0"
