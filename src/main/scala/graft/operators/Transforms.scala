package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Per-entity transforms (SURVEY.md O10–O13). Pure DataFrame =>
  * DataFrame — every step is a narrow, codegen-friendly projection; no
  * shuffle is introduced anywhere in the parity path. Each transform
  * adds its columns in ONE `withColumns` projection (an ordered map:
  * new columns append in that order, a replaced one keeps its place),
  * since every `withColumn` call re-analyzes the whole plan. Every
  * expression reads the input columns, so the health struct's fields
  * come from the struct that its `state` replaces.
  */
object Transforms {

  /** O11 — per-row array top-1 by key: the most recent element of
    * `arr` ordered by its `byField` (ISO-8601 string → lexicographic
    * order is chronological). Empty/null array yields NULL
    * (MD-PS:224-228's null semantics). No explode, no shuffle: the
    * whole selection happens inside one row via array_sort.
    */
  def arrayTop1(arr: Column, byField: String, payloadField: String): Column = {
    val reordered = transform(arr, x =>
      struct(x.getField(byField).as("k"), x.getField(payloadField).as("p")))
    val sorted = array_sort(reordered)
    when(size(arr) > 0, element_at(sorted, size(arr)))
  }

  /** ManagedDevices transform (MD-PS:212-238):
    * O10 promote configurationManagerClientHealthState.{errorCode,
    * lastSyncDateTime} then overwrite the parent with its .state;
    * O11 usersLoggedOn top-1 by lastLogOnDateTime;
    * O13 drop the consumed array column. */
  def managedDevices(df: DataFrame): DataFrame = {
    val health = col("configurationManagerClientHealthState")
    val top = arrayTop1(col("usersLoggedOn"), "lastLogOnDateTime", "userId")
    df.withColumns(ListMap(
      "configurationManagerClientErrorCode" -> health.getField("errorCode"),
      // preserved reference typo: lowercase l (MD-SQL:31)
      "configurationManagerClientlastSyncDateTime" ->
        health.getField("lastSyncDateTime"),
      "configurationManagerClientHealthState" -> health.getField("state"),
      "userLoggedOnUserId" -> top.getField("p"),
      "userLoggedOnLastLogOnDateTime" -> top.getField("k")))
      .drop("usersLoggedOn")
  }

  /** CloudPCs: no transform (W365-PS:217-219). */
  def cloudPcs(df: DataFrame): DataFrame = df

  /** CloudPCAuditEvents transform (W365-PS:224-248):
    * O12 promote actor.* and flatten the resources collection's
    * displayName members into one comma-joined string (pinned
    * semantics for the reference's member-enumeration, SURVEY §1.3);
    * O13 drop actor/resources. */
  def auditEvents(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "actorApplicationDisplayName" -> col("actor.applicationDisplayName"),
      "actorUserPrincipalName" -> col("actor.userPrincipalName"),
      // empty collection ⇒ NULL (PowerShell member-enumeration over an
      // empty collection yields $null, not an empty string)
      "resourcesDisplayName" -> when(size(col("resources")) > 0,
        concat_ws(",", transform(col("resources"), _.getField("displayName"))))))
      .drop("actor", "resources")
}
