package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** The scripted-filter surface — the Spark-native analog of the lua filter
  * (reference `plugins/filter_lua/lua.c:330-393`): a user function over
  * each record returning drop / keep / replace.
  *
  * The reference protocol is `cb(tag, ts, record) → (code, ts, record)`
  * with code −1 = drop, 0 = keep original, 1 = replace. Here the host
  * scripting language IS Scala, so the protocol is a typed function on a
  * `Dataset[T]` — compile-time checked, serialized once, no VM bridge.
  * Stateless by contract (like the lua callback); stateful logic belongs
  * in Spark's `flatMapGroupsWithState`.
  */
object Scripted {

  sealed trait Verdict[+T]
  case object Drop extends Verdict[Nothing]
  case object Keep extends Verdict[Nothing]
  final case class Replace[T](value: T) extends Verdict[T]

  /** Apply the drop/keep/replace protocol. */
  def apply[T: Encoder](fn: T => Verdict[T])(ds: Dataset[T]): Dataset[T] =
    ds.flatMap { t =>
      fn(t) match {
        case Drop       => Iterator.empty
        case Keep       => Iterator.single(t)
        case Replace(v) => Iterator.single(v)
      }
    }

  // ---- the reference callback face (conf surface) -------------------------

  /** The exact reference protocol `cb(tag, ts, record) → (code, ts, record)`
    * (`plugins/filter_lua/lua.c:333-393`): `ts` is double SECONDS
    * (`flb_time_to_double`); codes: −1 drop, 0 keep the original record,
    * 1 replace record AND timestamp, any other code keeps the original
    * (the reference logs and repacks, `lua.c:383-388`).
    */
  type LuaCallback = (String, Double, Map[String, String]) => (Int, Double, Map[String, String])

  /** Named-function registry backing `[FILTER] lua` conf sections. The host
    * scripting language is Scala (no Lua VM offline — declared deviation,
    * SURVEY §2.7): a conf's `script`/`call` pair resolves to a function
    * registered here under "script:call" (or bare "call").
    */
  object LuaRegistry {
    private val fns = scala.collection.concurrent.TrieMap.empty[String, LuaCallback]
    def register(name: String, fn: LuaCallback): Unit = fns(name) = fn
    def resolve(script: String, call: String): LuaCallback =
      fns.getOrElse(s"$script:$call", fns.getOrElse(call,
        throw new IllegalArgumentException(
          s"no registered scripted function for script=$script call=$call — " +
            "register a Scala function via Scripted.LuaRegistry.register " +
            "(this engine runs scripted filters as named Scala functions, not a Lua VM)")))
  }

  /** Row carrier crossing the typed boundary (record values as strings —
    * the same coercion a Lua table of printed values round-trips through).
    * `tsUs` keeps the ORIGINAL timestamp exactly (µs, nullable) so kept
    * (code 0) rows don't round-trip through the callback's double seconds
    * — only `replaced` rows take the returned double, like the reference
    * (`flb_time_from_double` only runs on ret 1, lua.c:377-381).
    */
  final case class LuaRow(tag: String, tsd: Double, rec: Map[String, String],
                          tsUs: Option[Long] = None, replaced: Boolean = false)

  /** Apply a [[LuaCallback]] over a fixed-schema conf-pipeline frame:
    * columns → record map (stringified), callback per row, surviving
    * records rebuilt onto the ORIGINAL schema (values cast back to each
    * column's type). Kept rows carry their original `ts` through
    * untouched (null stays null); a replaced `ts` comes from the returned
    * double seconds.
    */
  def applyLua(df: DataFrame, fn: LuaCallback): DataFrame = {
    import df.sparkSession.implicits._
    val schema = df.schema
    val hasTs = df.columns.contains("ts")
    val others = df.columns.filterNot(c => c == "tag" || c == "ts").toSeq
    val tsUs = if (hasTs) unix_micros(col("ts").cast("timestamp"))
               else lit(null).cast("long")
    val carrier = df.select(col("tag"),
      coalesce(tsUs.cast("double") / 1e6, lit(0.0)).as("tsd"),
      map(others.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*).as("rec"),
      tsUs.as("tsUs"), lit(false).as("replaced")).as[LuaRow]
    val out = carrier.flatMap { r =>
      fn(r.tag, r.tsd, r.rec) match {
        case (-1, _, _)    => Iterator.empty                       // skip record
        case (1, t2, rec2) => Iterator.single(LuaRow(r.tag, t2, rec2, r.tsUs, replaced = true))
        case _             => Iterator.single(r)                   // 0 / unexpected: keep
      }
    }
    val rebuilt = others.map(c => element_at(col("rec"), c).cast(schema(c).dataType).as(c))
    val tsCol = if (hasTs)
      Seq(when(col("replaced"), col("tsd").cast("timestamp"))
        .otherwise(timestamp_micros(col("tsUs")))
        .cast(schema("ts").dataType).as("ts")) else Nil
    out.select(col("tag") +: (tsCol ++ rebuilt): _*)
  }
}
