package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.DecimalType

/** One registry entry: the name `Verify`, `Bench` and the DuckDB compare
  * report it under, the builder of its DataFrame over a dataset
  * directory, and the DuckDB SQL whose result it must hash-match.
  */
private[graft] final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** A registry family: one object per file under `graft/registry/`, each
  * builder `def qNN` followed by the `query(...)` that declares its
  * entry, so a query's builder and its oracle sit side by side. The
  * helpers below are the pieces more than one family uses; a fragment
  * only one family uses lives in that family's file.
  */
private[registry] abstract class Family {

  private[this] var declared = Vector.empty[Query]

  /** Declares one entry, right after the builder it names. Fragments an
    * oracle reads must be defined above its call: the call runs when the
    * family object initializes.
    */
  protected final def query(name: String,
      build: (SparkSession, String) => DataFrame, oracle: String): Unit =
    declared :+= Query(name, build, oracle)

  /** This family's entries, in declaration order. */
  final def all: Seq[Query] = declared

  /** Exact, order-independent sum of a double column: route through
    * DECIMAL(18,s), return DOUBLE.
    */
  protected def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  protected def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  protected def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  protected def emb(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  /** Scratch-root key for the standing-sink queries (q200/q204/q231/
    * q232/q234): md5 over the query tag plus the dataset's CONTENT
    * fingerprint ([[Tables.fileIdentity]]: each backing file's name,
    * byte length, mtime and footer tail), not the path string alone. A
    * dataset REGENERATED at the same path must get a fresh scratch
    * root, or the sinks' `_APPLIED` markers would short-circuit the
    * folds and serve stale standing state (round-16 ADVICE); and two
    * concurrent suites over different content no longer race one marker
    * protocol. The footer tail keeps the key content-sensitive even when
    * a regeneration lands identical names/sizes inside one mtime tick
    * (round-17 ADVICE).
    */
  protected def scratchKeyHex(tag: String, d: String, table: String): String =
    Memo.hex(tag, d, Tables.fileIdentity(new java.io.File(d, s"$table.parquet")))

  // explicit class: Java \s includes \x0B, RE2 \s does not — see
  // TextFunctions.whitespaceClass
  protected val TOKS =
    "list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r]+'), x -> x <> '')"

  protected val TOKS_LOWER =
    "list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r]+'), x -> x <> '')"

  protected def shinglesSql(tk: String): String =
    s"CASE WHEN len($tk) >= 3 THEN list_distinct(list_transform(range(len($tk)-2), " +
    s"i -> $tk[i+1] || ' ' || $tk[i+2] || ' ' || $tk[i+3])) ELSE CAST([] AS VARCHAR[]) END"
}
