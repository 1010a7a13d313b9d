"""UDF / UDAF / UDTF surface (SURVEY.md §2 U1–U3).

The reference exposed Hive Java UDF/UDAF/UDTF + TRANSFORM scripts
([P]); ours is the vectorized PySpark surface — every entry is
Arrow-batched (pandas_udf / applyInPandas / mapInPandas), never
row-at-a-time Python. These are the "slow path" escape hatch; the
oracle checks they compute exactly what the SQL says.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cassowary_spark.exprs import srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table


# The worker functions (_charge, wavg, tokenize) are plain module-level
# functions, so they pickle by reference: a worker that unpickles one
# imports the package, which gates its zip re-reads (session.py).
def _charge(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    # Vectorized over Arrow batches: numpy arithmetic, no Python loop.
    return price * (1.0 - discount) * (1.0 + tax)


@query(
    "q_udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000.0 + 0.5) / 10000.0 AS charge
    FROM lineitem
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (U1): identical float semantics to the SQL."""
    charge = pandas_udf("double")(_charge)
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        srnd(charge("l_extendedprice", "l_discount", "l_tax"), 4).alias("charge"),
    )


@query(
    "q_udaf_grouped",
    oracle="""
    SELECT l_returnflag,
           floor((sum(l_extendedprice * l_quantity) / sum(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS wavg_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg UDAF via applyInPandas (U2): quantity-weighted price.

    Scale note: applyInPandas materializes each group in one worker —
    fine for bounded group counts; unbounded/skewed keys should use a
    two-level (salted partial, then final) scheme instead.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").applyInPandas(
        wavg, "l_returnflag string, wavg_price double, n_rows bigint"
    )


def wavg(pdf: pd.DataFrame) -> pd.DataFrame:
    w = pdf["l_quantity"].sum()
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "wavg_price": [math.floor((pdf["l_extendedprice"] * pdf["l_quantity"]).sum() / w * 10000.0 + 0.5) / 10000.0],
            "n_rows": [len(pdf)],
        }
    )


@query(
    "q_udtf_flatmap",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           lang
    FROM documents
    WHERE lang = 'de'
    """,
)
def q_udtf_flatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function UDTF via mapInPandas (U3): 1 doc → N token rows."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    return d.mapInPandas(tokenize, "doc_id bigint, token string, lang string")


def tokenize(batches):
    for pdf in batches:
        toks = pdf["text"].str.split(" ")
        n = toks.str.len()
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].repeat(n).values,
                "token": [t for row in toks for t in row],
                "lang": pdf["lang"].repeat(n).values,
            }
        )


@query(
    "q_transform_script",
    oracle="""
    SELECT l_orderkey,
           CAST(floor(l_quantity * 2) AS BIGINT) AS q2,
           upper(l_returnflag) AS flag
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def q_transform_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``TRANSFORM ... USING 'script'`` parity (U4): rows stream
    as tab-separated lines through an EXTERNAL process's stdin/stdout
    — the exact streaming contract Hive gives user scripts, which is
    how the reference's Hive surface ran arbitrary executables over
    query rows (SURVEY.md §2 U-group, reconstruction [P]).

    Spark mapping: mapInPandas spawns the script once per Arrow batch
    and pipes the batch as TSV — batch-granular process amortization
    instead of Hive's one-process-per-task, same line protocol. At
    100 TB the cost model is the script itself (any external binary);
    the exchange is bounded by batch size, and no row ever touches
    the driver.
    """
    import subprocess
    import sys as _sys

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_quantity", "l_returnflag")
    )
    # the "user script": reads TSV rows, emits TSV rows (doubled
    # quantity floored, uppercased flag) — deterministic so the SQL
    # oracle can mirror it
    script = (
        "import sys, math\n"
        "for line in sys.stdin:\n"
        "    k, q, f = line.rstrip('\\n').split('\\t')\n"
        "    print(f'{k}\\t{math.floor(float(q) * 2)}\\t{f.upper()}')\n"
    )
    argv = [_sys.executable, "-c", script]

    def transform(batches):
        import io

        for pdf in batches:
            tsv = pdf.to_csv(sep="\t", header=False, index=False)
            out = subprocess.run(
                argv, input=tsv.encode(), capture_output=True, check=True
            ).stdout
            yield pd.read_csv(
                io.BytesIO(out),
                sep="\t",
                names=["l_orderkey", "q2", "flag"],
                dtype={"l_orderkey": "int64", "q2": "int64", "flag": "string"},
            )

    return li.mapInPandas(transform, "l_orderkey long, q2 long, flag string")


@query(
    "q_udtf_python",
    oracle="""
    WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE lang = 'fr'
    )
    SELECT doc_id,
           CAST(c.c AS INT) AS chunk_id,
           array_to_string(
               list_slice(t, (c.c * 10) + 1, (c.c + 1) * 10), ' '
           ) AS chunk,
           CAST(least(10, len(t) - c.c * 10) AS INT) AS n_tokens
    FROM tk, UNNEST(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) c(c)
    """,
)
def q_udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-registered Python UDTF (U5): Spark 4's ``@udtf`` class
    surface — a table function callable FROM SQL with lateral-join
    semantics, the modern replacement for Hive's ``LATERAL VIEW``
    over a Java UDTF (U3's mapInPandas is the DataFrame-side spelling;
    this is the SQL-side one the reference's HiveQL users would
    actually write). Splits each doc into 10-token chunks with
    per-chunk ids — C32's chunker as a reusable SQL function.

    Scale shape: the UDTF runs row-local inside the scan's partitions
    (LATERAL join against the source — no shuffle introduced); each
    eval yields ≤ tokens/10 rows. Arrow-batched row transport; the
    planner treats output cardinality like any generator (explode).
    """
    from pyspark.sql.functions import udtf

    # useArrow: without it @udtf evaluates row-at-a-time
    # (BatchEvalPythonUDTF) — the slow path this module bans
    @udtf(returnType="chunk_id int, chunk string, n_tokens int", useArrow=True)
    class ChunkDoc:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), 10):
                piece = toks[i : i + 10]
                yield i // 10, " ".join(piece), len(piece)

    spark.udtf.register("chunk_doc", ChunkDoc)
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "fr")
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk, c.n_tokens
        FROM __udtf_docs d, LATERAL chunk_doc(d.text) c
        """
    )
