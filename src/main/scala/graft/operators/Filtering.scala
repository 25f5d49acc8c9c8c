package graft.operators

import graft.{OracleNum, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Advanced filtering subsystem.
  *
  * Reference surface: grape-vector-db src/filtering.rs — a
  * FilterExpression tree (Comparison / Logical / Geospatial / Nested /
  * TextSearch) evaluated against per-field indexes, plus a SQL WHERE
  * parser (src/filtering.rs:764).
  *
  * Spark-first re-expression: the same ADT, but `compile` emits a
  * Catalyst `Column` predicate instead of walking hand-built indexes.
  * That means every comparison/logical filter participates in
  * predicate pushdown, partition pruning and min/max skipping for
  * free — the "filter index" of the reference IS the parquet
  * footer + Catalyst here. The SQL WHERE path delegates to Spark's
  * own parser via `expr()`.
  */
object Filtering {
  import OracleNum.{fx, fxSql}

  // ---- FilterExpression ADT (mirrors filtering.rs:40) ----
  sealed trait FilterExpr
  final case class Cmp(field: String, op: CmpOp, value: Any) extends FilterExpr
  final case class AndF(operands: Seq[FilterExpr]) extends FilterExpr
  final case class OrF(operands: Seq[FilterExpr]) extends FilterExpr
  final case class NotF(operand: FilterExpr) extends FilterExpr
  /** JSON-path predicate over a string column holding a JSON object
    * (filtering.rs NestedOperator::JsonPath / Exists / Equal).
    */
  final case class JsonCmp(field: String, path: String, op: CmpOp, value: Any) extends FilterExpr
  /** Haversine within-distance (filtering.rs GeospatialOperator::WithinDistance). */
  final case class GeoWithin(latField: String, lonField: String,
                             lat: Double, lon: Double, radiusKm: Double) extends FilterExpr
  /** Bounding box (filtering.rs GeometryValue::BoundingBox). */
  final case class GeoBBox(latField: String, lonField: String,
                           minLat: Double, minLon: Double,
                           maxLat: Double, maxLon: Double) extends FilterExpr
  /** Array membership (filtering.rs NestedOperator::ArrayContains). */
  final case class ArrayHas(field: String, value: Any) extends FilterExpr
  /** Text-search filter (filtering.rs FilterExpression::TextSearch +
    * TextSearchOptions.case_sensitive): substring containment.
    */
  final case class TextContains(field: String, needle: String,
                                caseSensitive: Boolean = false) extends FilterExpr
  /** Fuzzy text-search filter (filtering.rs TextSearchOptions.fuzzy +
    * max_distance): matches when any token of the field is within
    * `maxDistance` Levenshtein edits of the needle.
    */
  final case class FuzzyContains(field: String, needle: String,
                                 maxDistance: Int) extends FilterExpr
  /** JSON array length predicate (filtering.rs
    * NestedOperator::ArrayLength) over the array at `path`.
    */
  final case class ArrayLen(field: String, path: String, op: CmpOp,
                            value: Any) extends FilterExpr
  /** JSON object key-presence (filtering.rs
    * NestedOperator::ObjectHasKey) for the object at `path`.
    */
  final case class ObjectHasKey(field: String, path: String,
                                key: String) extends FilterExpr
  /** JSON object value-presence (filtering.rs
    * NestedOperator::ObjectHasValue): any top-level value of the
    * object at `path` equals `value` (values compared as strings, the
    * reference's value_index keying).
    */
  final case class ObjectHasValue(field: String, path: String,
                                  value: String) extends FilterExpr
  /** Nested substring containment (filtering.rs
    * NestedOperator::Contains / execute_nested_contains).
    */
  final case class NestedContains(field: String, path: String,
                                  needle: String) extends FilterExpr

  /** Geospatial polygon operators (filtering.rs
    * GeospatialOperator::{Within, Contains, Intersects} with
    * GeometryValue::Polygon). The indexed field here is a point, so
    * all three reduce to the same point-in-polygon test: point Within
    * polygon == polygon Contains point == point Intersects polygon.
    */
  sealed trait PolyOp
  case object PolyWithin extends PolyOp
  case object PolyContains extends PolyOp
  case object PolyIntersects extends PolyOp
  /** Point-in-polygon filter; `vertices` are (lat, lon) pairs of a
    * closed ring (last edge wraps to the first vertex).
    */
  final case class GeoPoly(latField: String, lonField: String,
                           vertices: Seq[(Double, Double)],
                           op: PolyOp = PolyWithin) extends FilterExpr

  sealed trait CmpOp
  case object Eq extends CmpOp; case object Ne extends CmpOp
  case object Gt extends CmpOp; case object Ge extends CmpOp
  case object Lt extends CmpOp; case object Le extends CmpOp
  case object Like extends CmpOp; case object NotLike extends CmpOp
  case object In extends CmpOp; case object NotIn extends CmpOp
  case object IsNull extends CmpOp; case object IsNotNull extends CmpOp

  /** Compile a FilterExpr tree to one Catalyst predicate Column. */
  def compile(f: FilterExpr): Column = compileBound(f, col)

  /** JSON path for `path` relative to a field: empty path means the
    * field IS the value (lets arms probe a shared sub-document
    * directly).
    */
  private def jsonPath(path: String): String =
    if (path.isEmpty) "$" else s"$$.$path"

  /** [[compile]] with field names resolved through `bind` — lets a
    * caller substitute a derived expression for a field (see
    * [[compileShared]]).
    */
  def compileBound(f: FilterExpr, bind: String => Column): Column = f match {
    case Cmp(field, op, v) => cmp(bind(field), op, v)
    // empty conjunction/disjunction: identity elements (AND{} = true,
    // OR{} = false) — the reference's search_by_metadata accepts an
    // empty filter map and returns everything up to the limit
    case AndF(os) if os.isEmpty => lit(true)
    case OrF(os) if os.isEmpty  => lit(false)
    case AndF(os)          => os.map(compileBound(_, bind)).reduce(_ && _)
    case OrF(os)           => os.map(compileBound(_, bind)).reduce(_ || _)
    case NotF(o)           => !compileBound(o, bind)
    case JsonCmp(field, path, op, v) =>
      cmp(get_json_object(bind(field), jsonPath(path)), op, v)
    case GeoWithin(latF, lonF, lat, lon, r) =>
      haversineKm(bind(latF), bind(lonF), lit(lat), lit(lon)) <= r
    case GeoBBox(latF, lonF, minLat, minLon, maxLat, maxLon) =>
      bind(latF).between(minLat, maxLat) && bind(lonF).between(minLon, maxLon)
    case ArrayHas(field, v) => array_contains(bind(field), lit(v))
    case TextContains(field, needle, cs) =>
      if (cs) bind(field).contains(needle)
      else lower(bind(field)).contains(graft.functions.expressions.Tok.lower(needle))
    case FuzzyContains(field, needle, d) =>
      exists(graft.functions.TextFunctions.tokens(bind(field)),
        t => levenshtein(t, lit(needle)) <= d)
    case ArrayLen(field, path, op, v) =>
      cmp(json_array_length(get_json_object(bind(field), jsonPath(path))), op, v)
    case ObjectHasKey(field, path, key) =>
      array_contains(json_object_keys(get_json_object(bind(field), jsonPath(path))), key)
    case ObjectHasValue(field, path, v) =>
      // parse the object as map<string,string> (scalars read as their
      // literal token text) and probe the values — Spark's
      // get_json_object needs a foldable path, so per-key probing is
      // expressed via from_json instead
      array_contains(
        map_values(from_json(get_json_object(bind(field), jsonPath(path)),
          "map<string,string>", Map.empty[String, String])), v)
    case NestedContains(field, path, needle) =>
      get_json_object(bind(field), jsonPath(path)).contains(needle)
    case GeoPoly(latF, lonF, vs, _) => pointInPolygon(bind(latF), bind(lonF), vs)
  }

  /** Compile with `field` bound to the expression `value`, factored as
    * a Catalyst `With` common expression: however many arms probe the
    * field, the expression is evaluated ONCE per row. Without this,
    * predicate pushdown through the defining Project inlines the
    * expression into every arm — for a derived JSON column probed by
    * N JSON operators that means N string constructions and parses
    * per row instead of one.
    */
  def compileShared(f: FilterExpr, field: String, value: Column,
                    dataType: org.apache.spark.sql.types.DataType =
                      org.apache.spark.sql.types.StringType): Column =
    compileSharedFields(f, Seq((field, value, dataType)))

  /** [[compileShared]] over several bound fields: each value column is
    * factored as its own once-per-row common expression. A binding may
    * derive from another binding's UNDERLYING column (not its ref) —
    * e.g. bind both a constructed JSON document and an extracted
    * sub-document, so arms probing the sub-document skip re-parsing
    * the full document per arm.
    *
    * PUSHDOWN CAVEAT: the whole compiled predicate rides one `With`
    * whose defs are nondeterministic-marked (the NoInline barrier), so
    * Catalyst will not split the conjunction or push ANY arm to the
    * scan — including plain-column arms that would otherwise prune
    * row groups. Compile scan-pushable arms separately with
    * [[compile]] and AND the two Columns; reserve the shared path for
    * the arms that actually probe the derived field.
    */
  def compileSharedFields(f: FilterExpr,
                          fields: Seq[(String, Column,
                            org.apache.spark.sql.types.DataType)]): Column =
    graft.functions.expressions.SharedExpr.shared(
      fields.map(x => x._2 -> x._3)) { refs =>
      val bound = fields.map(_._1).zip(refs).toMap
      compileBound(f, n => bound.getOrElse(n, col(n)))
    }

  /** Parse-once compilation for JSON-heavy filters: derive the minimal
    * `from_json` schema FROM THE FILTER ADT ITSELF (each arm declares
    * which sub-document it probes and as what shape), bind the PARSED
    * document as the single shared common — one string construction +
    * ONE JSON parse per row however many arms probe it — and compile
    * every JSON arm to a struct/map probe. [[compileShared]] by
    * contrast shares only the document STRING; each of N arms still
    * re-parses it (get_json_object / json_object_keys / from_json),
    * i.e. N full parses per row. Semantics are get_json_object-
    * identical for well-formed object documents over one- and
    * two-segment paths (parity is spec-asserted arm by arm against the
    * string-path compiler); arms not touching `field` compile
    * unchanged. Unsupported shapes (>2 path segments, or one path
    * probed both as array and object) are rejected — fall back to
    * [[compileShared]] for those.
    */
  def compileSharedParsed(f: FilterExpr, field: String, value: Column): Column = {
    import org.apache.spark.sql.types._
    val MapSS = MapType(StringType, StringType)
    def req(g: FilterExpr): Seq[(String, DataType)] = g match {
      case AndF(os) => os.flatMap(req)
      case OrF(os)  => os.flatMap(req)
      case NotF(o)  => req(o)
      case ArrayLen(`field`, p, _, _) if !p.contains('.') => Seq(p -> ArrayType(StringType))
      case ObjectHasKey(`field`, p, _) if !p.contains('.') => Seq(p -> MapSS)
      case ObjectHasValue(`field`, p, _) if !p.contains('.') => Seq(p -> MapSS)
      case NestedContains(`field`, p, _) =>
        val parts = p.split('.'); require(parts.length <= 2, s"path too deep: $p")
        Seq(parts.head -> (if (parts.length == 2) MapSS else StringType))
      case JsonCmp(`field`, p, _, _) =>
        val parts = p.split('.'); require(parts.length <= 2, s"path too deep: $p")
        Seq(parts.head -> (if (parts.length == 2) MapSS else StringType))
      case ArrayLen(`field`, p, _, _) =>
        throw new IllegalArgumentException(s"path too deep: $p")
      case ObjectHasKey(`field`, p, _) =>
        throw new IllegalArgumentException(s"path too deep: $p")
      case ObjectHasValue(`field`, p, _) =>
        throw new IllegalArgumentException(s"path too deep: $p")
      case _ => Seq.empty
    }
    val needs = req(f).distinct
    needs.groupBy(_._1).foreach { case (n, ts) =>
      require(ts.size == 1, s"field $n probed as conflicting shapes; use compileShared")
    }
    val schema = StructType(needs.map { case (n, t) => StructField(n, t) })
    def probe(ref: Column, p: String): Column = {
      val parts = p.split('.')
      if (parts.length == 1) ref.getField(p)
      else element_at(ref.getField(parts.head), parts(1))
    }
    graft.functions.expressions.SharedExpr.shared(
      Seq(from_json(value, schema, Map.empty[String, String]) -> (schema: DataType))) {
      case Seq(ref) =>
        def bound(g: FilterExpr): Column = g match {
          case AndF(os) if os.isEmpty => lit(true)
          case OrF(os) if os.isEmpty  => lit(false)
          case AndF(os) => os.map(bound).reduce(_ && _)
          case OrF(os)  => os.map(bound).reduce(_ || _)
          case NotF(o)  => !bound(o)
          // when().otherwise(null-typed) guard: json_array_length(NULL)
          // is NULL, and size(NULL)'s result is conf-dependent — make
          // the missing-array case explicitly NULL on every config
          case ArrayLen(`field`, p, op, v) =>
            cmp(when(probe(ref, p).isNotNull, size(probe(ref, p))), op, v)
          case ObjectHasKey(`field`, p, k)   => array_contains(map_keys(probe(ref, p)), k)
          case ObjectHasValue(`field`, p, v) => array_contains(map_values(probe(ref, p)), v)
          case NestedContains(`field`, p, needle) => probe(ref, p).contains(needle)
          case JsonCmp(`field`, p, op, v) => cmp(probe(ref, p), op, v)
          case other => compileBound(other, col)
        }
        bound(f)
    }
  }

  /** Ray-casting point-in-polygon: count edges whose (lat-horizontal)
    * ray crossing lies to the right of the point; odd = inside. Pure
    * codegen'd arithmetic on polygon literals — no spatial index
    * needed, and Catalyst can still push the surrounding conjuncts.
    * The DuckDB twin [[pointInPolygonSql]] mirrors the expression tree
    * operand-for-operand so both engines take identical IEEE paths.
    */
  def pointInPolygon(lat: Column, lon: Column,
                     vs: Seq[(Double, Double)]): Column = {
    val crossings = vs.indices.map { i =>
      val (y1, x1) = vs(i)
      val (y2, x2) = vs((i + 1) % vs.size)
      val crosses = (lit(y1) > lat) =!= (lit(y2) > lat)
      val xint = lit(x2 - x1) * (lat - lit(y1)) / lit(y2 - y1) + lit(x1)
      when(crosses && lon < xint, 1).otherwise(0)
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  def pointInPolygonSql(lat: String, lon: String,
                        vs: Seq[(Double, Double)]): String = {
    val terms = vs.indices.map { i =>
      val (y1, x1) = vs(i)
      val (y2, x2) = vs((i + 1) % vs.size)
      s"CASE WHEN (($y1 > $lat) <> ($y2 > $lat)) AND ($lon < ${x2 - x1} * (($lat) - $y1) / ${y2 - y1} + $x1) THEN 1 ELSE 0 END"
    }
    terms.mkString("((", " + ", s") % 2 = 1)")
  }

  private def cmp(c: Column, op: CmpOp, v: Any): Column = op match {
    case Eq        => c === lit(v)
    case Ne        => c =!= lit(v)
    case Gt        => c > lit(v)
    case Ge        => c >= lit(v)
    case Lt        => c < lit(v)
    case Le        => c <= lit(v)
    case Like      => c.like(v.toString)
    case NotLike   => !c.like(v.toString)
    case In        => c.isin(v.asInstanceOf[Seq[Any]]: _*)
    case NotIn     => !c.isin(v.asInstanceOf[Seq[Any]]: _*)
    case IsNull    => c.isNull
    case IsNotNull => c.isNotNull
  }

  /** Great-circle distance in km (haversine, R=6371). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * 6371.0) * asin(sqrt(a))
  }

  def haversineKmSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"(2.0 * 6371.0 * asin(sqrt(pow(sin(radians(($lat2) - ($lat1)) / 2), 2) + cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians(($lon2) - ($lon1)) / 2), 2))))"

  // ---- queries() entries ----

  /** Comparison operators over orders: range + IN + LIKE composed as
    * one pushed-down scan predicate.
    */
  def filterComparison(spark: SparkSession, dir: String): DataFrame = {
    val f = AndF(Seq(
      Cmp("o_orderstatus", Eq, "O"),
      Cmp("o_totalprice", Ge, 50000.0),
      Cmp("o_orderpriority", In, Seq("1-URGENT", "2-HIGH")),
      Cmp("o_orderkey", Le, 100000L)))
    Tables.orders(spark, dir)
      .filter(compile(f))
      .select(col("o_orderkey"), col("o_custkey"), fx(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  val filterComparisonSql: String =
    s"""SELECT o_orderkey, o_custkey, ${fxSql("o_totalprice", 2)} AS price
       |FROM orders
       |WHERE o_orderstatus = 'O' AND o_totalprice >= 50000.0
       |  AND o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey <= 100000
       |ORDER BY o_orderkey""".stripMargin

  /** Logical composition incl. NOT / nested OR and LIKE / NULL ops
    * over part.
    */
  def filterLogical(spark: SparkSession, dir: String): DataFrame = {
    val f = AndF(Seq(
      OrF(Seq(Cmp("p_type", Like, "%BRASS%"), Cmp("p_size", Ge, 40))),
      NotF(Cmp("p_brand", Eq, "Brand#11")),
      Cmp("p_name", IsNotNull, null)))
    Tables.part(spark, dir)
      .filter(compile(f))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val filterLogicalSql: String =
    s"""SELECT p_partkey, p_brand, p_size
       |FROM part
       |WHERE (p_type LIKE '%BRASS%' OR p_size >= 40)
       |  AND NOT (p_brand = 'Brand#11') AND p_name IS NOT NULL
       |ORDER BY p_partkey""".stripMargin

  /** Geospatial within-radius. The corpus has no lat/lon, so both
    * engines derive deterministic pseudo-coordinates from c_custkey
    * with pure integer arithmetic (identical cross-engine), then the
    * haversine predicate + distance projection run on them.
    */
  def filterGeo(spark: SparkSession, dir: String): DataFrame = {
    val lat = (col("c_custkey") * 7919 % 18000) / lit(100.0) - 90.0
    val lon = (col("c_custkey") * 104729 % 36000) / lit(100.0) - 180.0
    Tables.customer(spark, dir)
      .withColumn("lat", lat).withColumn("lon", lon)
      .filter(compile(GeoWithin("lat", "lon", 40.0, -74.0, 5000.0)))
      .select(col("c_custkey"),
        fx(haversineKm(col("lat"), col("lon"), lit(40.0), lit(-74.0)), 3).as("dist_km"))
      .orderBy(col("c_custkey"))
  }

  val filterGeoSql: String = {
    val lat = "((c_custkey * 7919 % 18000) / 100.0 - 90.0)"
    val lon = "((c_custkey * 104729 % 36000) / 100.0 - 180.0)"
    val d = haversineKmSql(lat, lon, "40.0", "-74.0")
    s"""SELECT c_custkey, ${fxSql(d, 3)} AS dist_km
       |FROM customer
       |WHERE $d <= 5000.0
       |ORDER BY c_custkey""".stripMargin
  }

  /** Nested/JSON-path filtering over events.props. */
  def filterNested(spark: SparkSession, dir: String): DataFrame = {
    val f = AndF(Seq(
      JsonCmp("props", "k", IsNotNull, null),
      Cmp("event_type", In, Seq("purchase", "signup"))))
    Tables.events(spark, dir)
      .filter(compile(f))
      .filter(get_json_object(col("props"), "$.k").cast("long") >= 50)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))
  }

  val filterNestedSql: String =
    s"""SELECT event_id, event_type, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |FROM events
       |WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |  AND event_type IN ('purchase', 'signup')
       |  AND CAST(json_extract_string(props, '$$.k') AS BIGINT) >= 50
       |ORDER BY event_id""".stripMargin

  /** Bounding-box geospatial filter over the same derived pseudo
    * coordinates as [[filterGeo]] — two range predicates, fully
    * pushable to the scan (min/max row-group skipping applies when
    * the coordinates are real stored columns).
    */
  def filterBBox(spark: SparkSession, dir: String): DataFrame = {
    val lat = (col("c_custkey") * 7919 % 18000) / lit(100.0) - 90.0
    val lon = (col("c_custkey") * 104729 % 36000) / lit(100.0) - 180.0
    Tables.customer(spark, dir)
      .withColumn("lat", lat).withColumn("lon", lon)
      .filter(compile(GeoBBox("lat", "lon", -30.0, -90.0, 30.0, 90.0)))
      .select(col("c_custkey"), fx(col("lat"), 2).as("lat"), fx(col("lon"), 2).as("lon"))
      .orderBy(col("c_custkey"))
  }

  val filterBBoxSql: String = {
    val lat = "((c_custkey * 7919 % 18000) / 100.0 - 90.0)"
    val lon = "((c_custkey * 104729 % 36000) / 100.0 - 180.0)"
    s"""SELECT c_custkey, ${fxSql(lat, 2)} AS lat, ${fxSql(lon, 2)} AS lon
       |FROM customer
       |WHERE $lat BETWEEN -30.0 AND 30.0 AND $lon BETWEEN -90.0 AND 90.0
       |ORDER BY c_custkey""".stripMargin
  }

  /** Array-contains + text-search filters composed over documents:
    * the token array must contain a term AND the raw text must
    * contain a (case-insensitive) phrase — the ArrayContains and
    * TextSearch arms of the reference filter ADT.
    */
  def filterArrayText(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(compile(AndF(Seq(
        ArrayHas("toks", "spark"),
        TextContains("text", "vector")))))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val filterArrayTextSql: String =
    s"""SELECT doc_id, lang
       |FROM documents
       |WHERE list_contains(string_split(lower(text), ' '), 'spark')
       |  AND contains(lower(text), 'vector')
       |ORDER BY doc_id""".stripMargin

  /** Geospatial Near (filtering.rs GeospatialOperator::Near — the
    * spatial-index nearest_neighbor call): k nearest points to a
    * query location, expressed as orderBy(haversine)+limit →
    * TakeOrderedAndProject (per-partition heaps; no global sort, no
    * R-tree needed — the scan-side distance is codegen'd and the
    * driver merges k rows).
    */
  def filterGeoNear(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val lat = (col("c_custkey") * 7919 % 18000) / lit(100.0) - 90.0
    val lon = (col("c_custkey") * 104729 % 36000) / lit(100.0) - 180.0
    Tables.customer(spark, dir)
      .withColumn("lat", lat).withColumn("lon", lon)
      .select(col("c_custkey"),
        fx(haversineKm(col("lat"), col("lon"), lit(40.0), lit(-74.0)), 3).as("dist_km"))
      .orderBy(col("dist_km"), col("c_custkey"))
      .limit(k)
  }

  def filterGeoNearSql(k: Int = 10): String = {
    val lat = "((c_custkey * 7919 % 18000) / 100.0 - 90.0)"
    val lon = "((c_custkey * 104729 % 36000) / 100.0 - 180.0)"
    val d = haversineKmSql(lat, lon, "40.0", "-74.0")
    s"""SELECT c_custkey, ${fxSql(d, 3)} AS dist_km
       |FROM customer
       |ORDER BY dist_km, c_custkey
       |LIMIT $k""".stripMargin
  }

  /** SQL WHERE passthrough (reference SqlFilterParser): the WHERE
    * string is parsed by Spark's own SQL parser into the same
    * Catalyst predicate a native filter would produce.
    */
  val SqlWhere = "l_quantity > 45.0 AND l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1994-01-01'"

  def filterSqlWhere(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(expr(SqlWhere))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        fx(col("l_quantity")).as("qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val filterSqlWhereSql: String =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, ${fxSql("l_quantity")} AS qty
       |FROM lineitem
       |WHERE $SqlWhere
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Fuzzy text-search filter: documents containing a token within 2
    * edits of a misspelled needle (filtering.rs TextSearchOptions
    * fuzzy/max_distance). Map-only scan predicate — codegen'd
    * levenshtein over the token array, no shuffle at any scale.
    */
  def filterFuzzy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(compile(FuzzyContains("text", "sprak", 2)))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val filterFuzzySql: String =
    s"""SELECT doc_id, lang
       |FROM documents
       |WHERE len(list_filter(${graft.functions.TextFunctions.tokensSql("text")},
       |          t -> levenshtein(t, 'sprak') <= 2)) > 0
       |ORDER BY doc_id""".stripMargin

  /** Nested-operator arms (filtering.rs NestedOperator ArrayLength /
    * ObjectHasKey / ObjectHasValue / Contains) over a JSON document
    * column. events.props is a flat {"k": n} object, so — like the
    * pseudo-coordinates of [[filterGeo]] — both engines derive the
    * same richer JSON value deterministically from it, then the REAL
    * generic JSON operators apply: array length on $$.tags, value /
    * key probes and substring containment on $$.meta.
    */
  def filterNestedOps(spark: SparkSession, dir: String): DataFrame = {
    val k = coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(-1L))
    val tags = when(col("k") % 3 === 0,
        concat(lit("[\""), col("event_type"), lit("\",\"hot\"]")))
      .otherwise(concat(lit("[\""), col("event_type"), lit("\"]")))
    val meta = concat(
      lit("{\"k\": "), col("k").cast("string"),
      lit(", \"status\": \""),
      when(col("k") % 2 === 0, lit("even")).otherwise(lit("odd")), lit("\""),
      when(col("k") % 5 === 0, lit(", \"extra\": \"1\"")).otherwise(lit("")),
      lit("}"))
    val j = concat(lit("{\"tags\": "), tags, lit(", \"meta\": "), meta, lit("}"))
    // spread: the construct+parse map is CPU-bound and a small local
    // events.parquet is ONE split — without this the whole map runs on
    // a single task (no-op at scale, where the scan has many splits)
    Tables.spread(spark,
        Tables.events(spark, dir).select(col("event_id"), col("event_type"), col("props")))
      .withColumn("k", k)
      // parse-once shared compilation: the derived document j is
      // constructed AND from_json-parsed once per row (the schema is
      // derived from the four arms), and each arm probes the parsed
      // struct/map — vs compileShared, which shares only the string
      // and re-parses it in every arm (4 parses/row, measured ~2.3x
      // slower on this shape at sf0.1).
      .filter(compileSharedParsed(AndF(Seq(
        ArrayLen("j", "tags", Eq, 2),
        ObjectHasValue("j", "meta", "even"),
        NotF(ObjectHasKey("j", "meta", "extra")),
        NestedContains("j", "meta.status", "ev"))), "j", j))
      .select(col("event_id"), col("k"))
      .orderBy(col("event_id"))
  }

  val filterNestedOpsSql: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    COALESCE(CAST(json_extract_string(props, '$$.k') AS BIGINT), -1) AS k
       |  FROM events
       |), withj AS (
       |  SELECT event_id, k,
       |    '{"tags": ' ||
       |    CASE WHEN k % 3 = 0 THEN '["' || event_type || '","hot"]'
       |         ELSE '["' || event_type || '"]' END ||
       |    ', "meta": {"k": ' || k::VARCHAR || ', "status": "' ||
       |    CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END || '"' ||
       |    CASE WHEN k % 5 = 0 THEN ', "extra": "1"' ELSE '' END ||
       |    '}}' AS j
       |  FROM e
       |)
       |SELECT event_id, k FROM withj
       |WHERE json_array_length(j, '$$.tags') = 2
       |  AND list_contains(list_transform(json_keys(j, '$$.meta'),
       |        kk -> json_extract_string(j, '$$.meta.' || kk)), 'even')
       |  AND NOT list_contains(json_keys(j, '$$.meta'), 'extra')
       |  AND contains(json_extract_string(j, '$$.meta.status'), 'ev')
       |ORDER BY event_id""".stripMargin

  /** Polygon vertices (lat, lon) for the oracle-checked point-in-
    * polygon entry — an irregular quad with no horizontal edges.
    */
  val DemoPolygon: Seq[(Double, Double)] =
    Seq((70.0, -20.0), (20.0, 150.0), (-65.0, 60.0), (-40.0, -130.0))

  /** Point-in-polygon over the derived pseudo-coordinates
    * (filtering.rs GeospatialOperator::Within +
    * GeometryValue::Polygon).
    */
  def filterPolygon(spark: SparkSession, dir: String): DataFrame = {
    val lat = (col("c_custkey") * 7919 % 18000) / lit(100.0) - 90.0
    val lon = (col("c_custkey") * 104729 % 36000) / lit(100.0) - 180.0
    Tables.customer(spark, dir)
      .withColumn("lat", lat).withColumn("lon", lon)
      .filter(compile(GeoPoly("lat", "lon", DemoPolygon)))
      .select(col("c_custkey"), fx(col("lat"), 2).as("lat"), fx(col("lon"), 2).as("lon"))
      .orderBy(col("c_custkey"))
  }

  val filterPolygonSql: String = {
    val lat = "((c_custkey * 7919 % 18000) / 100.0 - 90.0)"
    val lon = "((c_custkey * 104729 % 36000) / 100.0 - 180.0)"
    s"""SELECT c_custkey, ${fxSql(lat, 2)} AS lat, ${fxSql(lon, 2)} AS lon
       |FROM customer
       |WHERE ${pointInPolygonSql(lat, lon, DemoPolygon)}
       |ORDER BY c_custkey""".stripMargin
  }
}
