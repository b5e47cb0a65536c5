package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SgmlExtract
import graft.functions.ExtractSpansExpr

/** The reference's DOM query surface (`xpath.pl — xpath/3, xpath_chk/3`
  * [V]; SURVEY.md §2.4 Q1-Q9) re-expressed Spark-first.
  *
  * Mapping (SURVEY.md table):
  *  - Q1 child axis `/Tag`, Q5 `text`, Q4 `@attr` + coercions → Spark
  *    built-in `xpath_string` / `xpath_int` / `xpath_double`
  *    (`o.a.s.sql.catalyst.expressions.xml.XPathExtract` family — codegen,
  *    no UDF);
  *  - Q2 descendant `//Tag` + Q9 all-solutions nondeterminism → `xpath()`
  *    returning an array + `posexplode` (backtracking ≡ rows);
  *  - Q3 positional `Tag(N)` / `Tag(last)` → XPath positional predicate,
  *    cross-checked by `row_number` over a window — both shown;
  *  - Q6 `normalize_space` → `regexp_replace(trim(...), '\\s+', ' ')`;
  *  - Q7 `number` → `try_cast(... as double)`;
  *  - Q8 `contains` → `contains(col, lit)`.
  *
  * Every query takes the `nation` table (n_nationkey, n_name,
  * n_regionkey). The XML inputs are built deterministically from it
  * (alphanumeric names/keys only → no escaping concerns), so every query
  * has an exact DuckDB oracle over the same base tables. At 100 TB the
  * same shape applies to per-doc serialized trees: xpath_* are scalar,
  * shuffle-free, whole-stage-codegen'd expressions.
  */
object XPathOps {

  /** One XML doc per nation: `<nation key="K" region="R"><name>N</name></nation>`. */
  private def nationXml(nation: DataFrame): DataFrame =
    nation
      .select(col("n_nationkey"), col("n_regionkey"),
        concat(
          lit("<nation key=\""), col("n_nationkey"),
          lit("\" region=\""), col("n_regionkey"),
          lit("\"><name>"), col("n_name"), lit("</name></nation>")).as("xml"))

  /** Q1/Q4/Q5/Q6/Q7: child axis, attribute extraction with coercion,
    * text extraction, normalize-space, numeric coercion. */
  def childAxis(nation: DataFrame): DataFrame =
    nationXml(nation).select(
      col("n_nationkey").as("nation_key"),
      expr("xpath_string(xml, 'nation/name')").as("name"),
      expr("xpath_int(xml, 'nation/@key')").cast("long").as("key_attr"),
      expr("xpath_double(xml, 'nation/@region')").as("region_num"),
      regexp_replace(trim(expr("xpath_string(xml, 'nation/name')")), "\\s+", " ")
        .as("name_norm"))

  /** One XML doc per region holding its nations in key order. */
  private def regionXml(nation: DataFrame): DataFrame =
    nation
      .groupBy(col("n_regionkey"))
      .agg(concat(
        lit("<region>"),
        concat_ws("", sort_array(collect_list(struct(col("n_nationkey"),
          concat(lit("<nation><name>"), col("n_name"),
            lit("</name></nation>")).as("frag")))).getField("frag")),
        lit("</region>")).as("xml"))

  /** Q2/Q9: descendant axis `//name`, all solutions as rows
    * (`posexplode` ≡ Prolog backtracking). */
  def descendantAll(nation: DataFrame): DataFrame =
    regionXml(nation)
      .select(col("n_regionkey").as("region_key"),
        posexplode(expr("xpath(xml, '//name/text()')")).as(Seq("pos", "name")))
      .select(col("region_key"), col("pos").cast("long").as("pos"), col("name"))

  /** Q3: positional `nation(2)` and `nation(last)` per region — via XPath
    * positional predicates, cross-checkable against a window row_number. */
  def positional(nation: DataFrame): DataFrame =
    regionXml(nation).select(
      col("n_regionkey").as("region_key"),
      expr("xpath_string(xml, 'region/nation[2]/name')").as("second_nation"),
      expr("xpath_string(xml, 'region/nation[last()]/name')").as("last_nation"))

  /** One XML doc per region with nations as attributed children, in key
    * order: `<region id="R"><nation key="K"><name>N</name></nation>…</region>`. */
  private def regionXmlAttr(nation: DataFrame): DataFrame =
    nation
      .groupBy(col("n_regionkey"))
      .agg(concat(
        lit("<region id=\""), col("n_regionkey").cast("string"), lit("\">"),
        concat_ws("", sort_array(collect_list(struct(col("n_nationkey"),
          concat(lit("<nation key=\""), col("n_nationkey"),
            lit("\"><name>"), col("n_name"),
            lit("</name></nation>")).as("frag")))).getField("frag")),
        lit("</region>")).as("xml"))

  /** Q1-Q5/Q9 via the NATIVE spec interpreter ([[graft.sgml.XPathSpec]] —
    * the reference's `xpath.pl` spec dialect evaluated over the task-local
    * DOM, closing round-1 gap #2): positional `(N)`/`(last)`, attribute
    * coercion `@key(integer)`, text steps, first-solution (`xpath_chk`:
    * `get(…, 0)` is null when there is no solution). One `XPath`
    * projection of the kernel expression evaluates the three specs over
    * one parse per region doc; each spec is parsed once, here. The kernel
    * column is projected once and read three times, so the optimizer
    * keeps one expression instead of inlining it per read — narrow,
    * shuffle-free (the groupBy below builds the per-region doc, mirroring
    * how per-doc trees already exist in the extract pipeline). */
  def specInterpreter(nation: DataFrame): DataFrame = {
    val specs = ExtractSpansExpr.XPath(Seq(
      "//nation(2)/name/text", "//nation(last)/name/text", "//nation(1)/@key(integer)"))
    def xpathChk(i: Int) = get(get(col("solutions"), lit(i)), lit(0))
    regionXmlAttr(nation)
      .select(col("n_regionkey").as("region_key"), SgmlExtract.kernel(SgmlExtract.textSpans(col("xml")),
        SgmlExtract.Config(dialect = "xml", space = "preserve"), specs)("solutions").as("solutions"))
      .select(col("region_key"), xpathChk(0).as("second_nation"), xpathChk(1).as("last_nation"),
        xpathChk(2).cast("long").as("first_key"))
  }

  /** The same positional query via windows (the scale path for span
    * tables: no serialized doc needed). Q3 + Q8. */
  def positionalWindow(nation: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))
    nation
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("n_regionkey"))))
      .filter(col("rn") === 2 || col("rn") === col("cnt"))
      .groupBy(col("n_regionkey").as("region_key"))
      .agg(
        max(when(col("rn") === 2, col("n_name"))).as("second_nation"),
        max(when(col("rn") === col("cnt"), col("n_name"))).as("last_nation"))
  }
}
