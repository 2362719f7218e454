"""PySpark-native analytics engine with the query/data-processing
capabilities of rat-genome-database/variant-load-pipeline.

Everything here is a brand-new Spark-first design: DataFrame/SQL logical
plans optimized by Catalyst, broadcast/range joins instead of JDBC lookup
caches, window functions instead of hand-rolled sorted-stream state, and
Arrow-batched pandas UDFs only where genuine sequence assembly is required.

Layout:
    session     - SparkSession builder tuned for local[N] and cluster use
    schemas     - StructTypes for every table/file format in SURVEY.md §1
    functions/  - scalar column functions (SURVEY.md §2.3), zygosity, codon
                  translation, text analysis
    sources/    - readers: CommonFormat2, VCF (multi-sample + 8-col), FASTA,
                  wiggle fixedStep, SnpEff, PolyPhen (SURVEY.md §2.1)
    operators/  - interval joins, dedup/upsert, ordered-match joins,
                  similarity search, large-scale dedup (SURVEY.md §2.4-2.8)
    plans/      - end-to-end pipelines: convert, load, annotate
                  (SURVEY.md §3)
    streaming/  - Structured Streaming equivalents over event streams
"""

__version__ = "0.1.0"
