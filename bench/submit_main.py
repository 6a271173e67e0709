"""spark-submit entrypoint (north_rule launch mode: spark-submit --py-files).

Usage:
  spark-submit --master local[8] --py-files build/linkgraph.zip \
      bench/submit_main.py [sf_dir]
Runs the flagship events-graph query (5 PageRank supersteps of the CSR
engine, whose Arrow cogroup UDFs run in the executors' Python workers off
the zipped package) and prints the top-10 + row count.
"""
import sys

from pyspark.sql import SparkSession

from linkgraph.flagship import flagship


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.appName("linkgraph-submit")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    df = flagship(spark, sf_dir)
    df.show(10, truncate=False)
    print("ROWS", df.count())
    spark.stop()


if __name__ == "__main__":
    main()
