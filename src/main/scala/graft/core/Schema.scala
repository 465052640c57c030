package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Orange's typed schema (SURVEY §1.1) over Spark:
  *
  *  - `Domain` = attributes (features) + class_vars (targets) + metas
  *    (reference Orange/data/domain.py:110-173) → column ROLE carried as
  *    `StructField.metadata{"graft.role"}`.
  *  - `Variable` kinds (variable.py:328-1058): continuous → DoubleType,
  *    discrete → StringType + value dictionary in metadata, string →
  *    StringType (meta), time → TimestampType + have_date/have_time.
  *  - per-variable user attributes dict → metadata map.
  *
  * Keeping roles/dictionaries in StructField metadata means every relational
  * operator (select/filter/join/union) transports the Orange schema for
  * free — there is no side table to keep in sync, and it survives parquet
  * round-trips (Spark persists field metadata).
  */
object Schema {

  val RoleKey    = "graft.role"     // feature | target | meta
  val ValuesKey  = "graft.values"   // discrete dictionary, ordered
  val TimeKey    = "graft.time"     // have_date/have_time flags

  sealed trait Role { def name: String }
  object Role {
    case object Feature extends Role { val name = "feature" }
    case object Target  extends Role { val name = "target" }
    case object Meta    extends Role { val name = "meta" }
    def of(s: String): Role = s match {
      case "target" => Target; case "meta" => Meta; case _ => Feature
    }
  }

  sealed trait VarKind
  object VarKind {
    case object Continuous extends VarKind
    case object Discrete   extends VarKind
    case object Str        extends VarKind
    case object Time       extends VarKind
  }

  /** One Orange variable descriptor. */
  final case class OVar(
      name: String,
      kind: VarKind,
      role: Role = Role.Feature,
      values: Seq[String] = Nil) {

    def dataType: DataType = kind match {
      case VarKind.Continuous => DoubleType
      case VarKind.Time       => TimestampType
      case _                  => StringType
    }

    def toField: StructField = {
      val b = new MetadataBuilder().putString(RoleKey, role.name)
      if (values.nonEmpty) b.putStringArray(ValuesKey, values.toArray)
      StructField(name, dataType, nullable = true, b.build())
    }
  }

  /** A Domain is just an ordered list of OVars; Spark-side it is a
    * StructType with role metadata. */
  final case class ODomain(vars: Seq[OVar]) {
    def attributes: Seq[OVar] = vars.filter(_.role == Role.Feature)
    def classVars: Seq[OVar]  = vars.filter(_.role == Role.Target)
    def metas: Seq[OVar]      = vars.filter(_.role == Role.Meta)
    def apply(name: String): OVar = vars.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(name))
  }

  /** Recover the domain of a DataFrame from field metadata (fields
    * without graft metadata default to feature role, kind by type). */
  def domainOf(df: DataFrame): ODomain = ODomain(df.schema.fields.toSeq.map { f =>
    val role = if (f.metadata.contains(RoleKey))
      Role.of(f.metadata.getString(RoleKey)) else Role.Feature
    val values = if (f.metadata.contains(ValuesKey))
      f.metadata.getStringArray(ValuesKey).toSeq else Nil
    val kind = f.dataType match {
      case DoubleType | FloatType | IntegerType | LongType => VarKind.Continuous
      case TimestampType => VarKind.Time
      case _ => if (values.nonEmpty) VarKind.Discrete else VarKind.Str
    }
    OVar(f.name, kind, role, values)
  })

  /** Orange's recognized missing-value tokens (variable.py:29). */
  val MissingTokens: Set[String] = Set("?", ".", "", "NA", "~", "nan")
}
