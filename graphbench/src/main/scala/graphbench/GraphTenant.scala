package graphbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import Json.{Arr, Obj}
import Canon.Ts

/** A synthetic Graph tenant, generated from a seed: managed devices
  * (nested health state, `usersLoggedOn` array), Cloud PCs (flat, wide)
  * and Cloud PC audit events (nested actor, `resources` array), with
  * the sink rows each entity must land as, computed here from the
  * generated values. */
final class GraphTenant(val seed: Long) {
  def rng(parts: Long*): SplittableRandom = {
    var h = seed ^ 0x632be59bd9b4e019L
    parts.foreach { p => h = (h ^ (p + 0x9e3779b97f4a7c15L)) * 0xbf58476d1ce4e5b9L }
    new SplittableRandom(h)
  }

  /** Fixed page size for this seed, within 990..1010 rows. */
  val pageSize: Int = 990 + rng(8).nextInt(21)

  private def pick(r: SplittableRandom, xs: IndexedSeq[String]): String =
    xs(r.nextInt(xs.size))
  private def uuid(r: SplittableRandom): String =
    f"${r.nextInt() & 0xffffffffL}%08x-${r.nextInt(0x10000)}%04x-4${r.nextInt(0x1000)}%03x-" +
      f"a${r.nextInt(0x1000)}%03x-${r.nextLong() & 0xffffffffffffL}%012x"
  private def idFor(kind: Int, idx: Int): String = {
    val r = rng(0, kind)
    f"${r.nextInt() & 0xffffffffL}%08x-${kind}%04x-4000-8000-$idx%012x"
  }
  private val t2023 = 1672531200L // 2023-01-01T00:00:00Z
  private def iso(r: SplittableRandom): String =
    java.time.Instant.ofEpochSecond(t2023 + r.nextLong(2L * 365 * 86400)).toString
  private def person(r: SplittableRandom): String =
    pick(r, Vector("Alex", "Zoë", "Łukasz", "Mei", "O'Brien", "Ngozi", "José",
      "Priya", "Björn", "Aiko")) + " " + pick(r, Vector("Smith", "Müller",
      "Nguyen", "García", "Kowalski", "\"Doc\" Brown", "Tanaka", "Okafor"))

  // ------------------------------------------------------- managed devices

  def deviceId(idx: Int): String = idFor(1, idx)

  def device(idx: Int, version: Int): Obj = {
    val r = rng(1, idx, version)
    val user = r.nextInt(50000)
    val upn = s"user$user@contoso.com"
    val os = pick(r, Vector("Windows", "Windows", "Windows", "iOS", "Android", "macOS"))
    val health =
      if (r.nextInt(10) == 0) null
      else Obj(Seq("state" -> pick(r, Vector("healthy", "unknown", "installFailed",
          "notInstalled")),
        "errorCode" -> r.nextLong(5000L), "lastSyncDateTime" -> iso(r)))
    val logons = (0 until r.nextInt(4)).map(_ => Obj(Seq(
      "userId" -> uuid(r), "lastLogOnDateTime" -> iso(r))))
    Obj(Seq(
      "id" -> deviceId(idx), "userId" -> uuid(r),
      "deviceName" -> f"DESKTOP-${r.nextInt(1 << 24)}%06X",
      "managedDeviceOwnerType" -> pick(r, Vector("company", "personal")),
      "enrolledDateTime" -> iso(r), "lastSyncDateTime" -> iso(r),
      "operatingSystem" -> os,
      "complianceState" -> pick(r, Vector("compliant", "noncompliant",
        "inGracePeriod", "unknown")),
      "managementAgent" -> pick(r, Vector("mdm", "easMdm", "configurationManagerClientMdm")),
      "osVersion" -> s"10.0.22631.${1000 + r.nextInt(4000)}",
      "azureADRegistered" -> r.nextBoolean(),
      "deviceEnrollmentType" -> pick(r, Vector("windowsAzureADJoin",
        "userEnrollment", "windowsAutoEnrollment")),
      "emailAddress" -> upn, "azureADDeviceId" -> uuid(r),
      "deviceRegistrationState" -> pick(r, Vector("registered", "notRegistered")),
      "isEncrypted" -> r.nextBoolean(), "userPrincipalName" -> upn,
      "model" -> pick(r, Vector("Surface Pro 9", "Latitude 7440", "ThinkPad X1",
        "iPhone 15", "Pixel 8")),
      "manufacturer" -> pick(r, Vector("Microsoft", "Dell", "Lenovo", "Apple", "Google")),
      "serialNumber" -> f"SN-${r.nextLong() & 0xffffffffffL}%010X",
      "userDisplayName" -> person(r),
      "managedDeviceName" -> s"user${user}_${os}_${r.nextInt(1000)}",
      "managementCertificateExpirationDate" -> iso(r),
      "joinType" -> pick(r, Vector("azureADJoined", "hybridAzureADJoined", "unknown")),
      "skuFamily" -> pick(r, Vector("Enterprise", "Pro", "")),
      "autopilotEnrolled" -> r.nextBoolean(),
      "configurationManagerClientHealthState" -> health,
      "usersLoggedOn" -> Arr(logons)))
  }

  def tombstone(idx: Int): Obj =
    Obj(Seq("id" -> deviceId(idx), "@removed" -> Obj(Seq("reason" -> "deleted"))))

  /** Device columns as extracted (the delta snapshot's shape). */
  val deviceSourceCols: Seq[String] = Seq("id", "userId", "deviceName",
    "managedDeviceOwnerType", "enrolledDateTime", "lastSyncDateTime",
    "operatingSystem", "complianceState", "managementAgent", "osVersion",
    "azureADRegistered", "deviceEnrollmentType", "emailAddress",
    "azureADDeviceId", "deviceRegistrationState", "isEncrypted",
    "userPrincipalName", "model", "manufacturer", "serialNumber",
    "userDisplayName", "managedDeviceName",
    "managementCertificateExpirationDate", "joinType", "skuFamily",
    "autopilotEnrolled", "configurationManagerClientHealthState",
    "usersLoggedOn")

  def deviceSourceRow(d: Obj): Seq[Any] = {
    val f = d.fields.toMap
    deviceSourceCols.map(f)
  }

  private val devicePassthrough = Seq("id", "userId", "deviceName",
    "managedDeviceOwnerType", "enrolledDateTime", "lastSyncDateTime",
    "complianceState", "managementAgent", "osVersion", "azureADRegistered",
    "deviceEnrollmentType", "emailAddress", "azureADDeviceId",
    "deviceRegistrationState", "isEncrypted", "userPrincipalName", "model",
    "manufacturer", "serialNumber", "userDisplayName", "managedDeviceName",
    "managementCertificateExpirationDate", "joinType", "skuFamily",
    "autopilotEnrolled")

  /** Device sink columns: passthrough, flattened health state, the most
    * recent logged-on user, load time. */
  val deviceSinkCols: Seq[String] = devicePassthrough ++ Seq(
    "configurationManagerClientHealthState", "configurationManagerClientErrorCode",
    "configurationManagerClientlastSyncDateTime", "userLoggedOnUserId",
    "userLoggedOnLastLogOnDateTime", "timeGenerated")

  private val timestampCols = Set("enrolledDateTime", "lastSyncDateTime",
    "managementCertificateExpirationDate", "lastModifiedDateTime",
    "gracePeriodEndDateTime", "activityDateTime")
  private def ts(v: Any): Any = v match {
    case null => null
    case s: String => Ts(Canon.isoMicros(s))
  }
  private def passthrough(f: Map[String, Any], cols: Seq[String]): Seq[Any] =
    cols.map(c => if (timestampCols(c)) ts(f(c)) else f(c))

  def deviceSinkRow(d: Obj, loadTime: Ts): Seq[Any] = {
    val f = d.fields.toMap
    val health = Option(f("configurationManagerClientHealthState"))
      .map(_.asInstanceOf[Obj].fields.toMap)
    val logons = f("usersLoggedOn").asInstanceOf[Arr].items
      .map(_.asInstanceOf[Obj].fields.toMap)
    val latest = if (logons.isEmpty) None
      else Some(logons.maxBy(l => (l("lastLogOnDateTime").toString, l("userId").toString)))
    passthrough(f, devicePassthrough) ++ Seq(
      health.map(_("state")).orNull,
      health.map(_("errorCode")).orNull,
      health.map(h => ts(h("lastSyncDateTime"))).orNull,
      latest.map(_("userId")).orNull,
      latest.map(l => ts(l("lastLogOnDateTime"))).orNull,
      loadTime)
  }

  // -------------------------------------------------------------- cloud PCs

  def cloudPc(idx: Int): Obj = {
    val r = rng(2, idx)
    val user = r.nextInt(50000)
    Obj(Seq(
      "id" -> idFor(2, idx), "displayName" -> f"CPC-user$user-${r.nextInt(1 << 20)}%05X",
      "imageDisplayName" -> pick(r, Vector("Windows 11 Enterprise + Microsoft 365 Apps 23H2",
        "Windows 10 Enterprise 22H2", "Custom image (gold)")),
      "provisioningPolicyId" -> uuid(r),
      "provisioningPolicyName" -> pick(r, Vector("Standard policy", "Developers",
        "Finance – EU")),
      "onPremisesConnectionName" -> pick(r, Vector("Azure network connection EU",
        "Azure network connection US", "Hybrid join (Contoso)")),
      "servicePlanId" -> uuid(r),
      "servicePlanName" -> pick(r, Vector("Cloud PC 2vCPU/8GB/128GB",
        "Cloud PC 4vCPU/16GB/256GB", "Cloud PC 8vCPU/32GB/512GB")),
      "userPrincipalName" -> s"user$user@contoso.com",
      "lastModifiedDateTime" -> iso(r),
      "managedDeviceId" -> uuid(r), "managedDeviceName" -> s"CPC-user$user",
      "aadDeviceId" -> uuid(r),
      "gracePeriodEndDateTime" -> (if (r.nextInt(5) == 0) iso(r) else null),
      "provisioningType" -> pick(r, Vector("dedicated", "shared"))))
  }

  val cloudPcSinkCols: Seq[String] = Seq("id", "displayName", "imageDisplayName",
    "provisioningPolicyId", "provisioningPolicyName", "onPremisesConnectionName",
    "servicePlanId", "servicePlanName", "servicePlanType", "userPrincipalName",
    "lastModifiedDateTime", "managedDeviceId", "managedDeviceName",
    "aadDeviceId", "gracePeriodEndDateTime", "provisioningType",
    "diskEncryptionState", "statusDetails", "statusDescription",
    "timeGenerated")

  /** Declared sink columns the source never carries land as NULL. */
  def cloudPcSinkRow(c: Obj, loadTime: Ts): Seq[Any] = {
    val f = c.fields.toMap.withDefaultValue(null)
    passthrough(f, cloudPcSinkCols.init) :+ loadTime
  }

  // ----------------------------------------------------------- audit events

  def auditEvent(idx: Int): Obj = {
    val r = rng(3, idx)
    val activity = pick(r, Vector("Create", "Update", "Delete", "Reprovision",
      "Restore")) + " " + pick(r, Vector("CloudPcProvisioningPolicy",
      "CloudPC", "CloudPcUserSetting"))
    val resources = (0 until r.nextInt(4)).map(_ => Obj(Seq(
      "displayName" -> pick(r, Vector("Standard policy", "CPC-alpha", "Developers",
        "Gold image", "Finance – EU")))))
    Obj(Seq(
      "id" -> idFor(3, idx), "displayName" -> activity,
      "componentName" -> activity.dropWhile(_ != ' ').trim,
      "activityDateTime" -> iso(r), "activityType" -> activity,
      "activityResult" -> pick(r, Vector("Success", "Success", "Failure")),
      "category" -> "CloudPC",
      "actor" -> Obj(Seq(
        "applicationDisplayName" -> pick(r, Vector("Microsoft Intune portal extension",
          "Graph Explorer", "Windows 365")),
        "userPrincipalName" -> s"admin${r.nextInt(20)}@contoso.com")),
      "resources" -> Arr(resources)))
  }

  val auditEventSinkCols: Seq[String] = Seq("id", "displayName", "componentName",
    "activityDateTime", "activityType", "activityResult", "category",
    "actorApplicationDisplayName", "actorUserPrincipalName",
    "resourcesDisplayName", "timeGenerated")

  def auditEventSinkRow(e: Obj, loadTime: Ts): Seq[Any] = {
    val f = e.fields.toMap
    val actor = f("actor").asInstanceOf[Obj].fields.toMap
    val names = f("resources").asInstanceOf[Arr].items
      .map(o => o.asInstanceOf[Obj].fields.toMap.apply("displayName").toString)
    passthrough(f, auditEventSinkCols.take(7)) ++ Seq(
      actor("applicationDisplayName"), actor("userPrincipalName"),
      if (names.isEmpty) null else names.mkString(","), loadTime)
  }

  // ------------------------------------------------------------------ pages

  /** Full-collection pages for `rows` at `url`: each page links the next
    * through `@odata.nextLink`; the last one carries `lastLink` (e.g. a
    * delta cursor) when given. Returns (url, body) in chain order. */
  def pages(url: String, context: String, rows: IndexedSeq[Obj],
      lastLink: Option[(String, String)] = None): Seq[(String, String)] = {
    val chunks = rows.grouped(pageSize).toIndexedSeq
    val sep = if (url.contains("?")) "&" else "?"
    def pageUrl(i: Int) = if (i == 0) url else s"$url$sep$$skiptoken=$i"
    chunks.indices.map { i =>
      val link =
        if (i + 1 < chunks.size) Some("@odata.nextLink" -> pageUrl(i + 1))
        else lastLink
      pageUrl(i) -> Json.render(Obj(Seq("@odata.context" -> context,
        "value" -> Arr(chunks(i))) ++ link.toSeq))
    }
  }
}

/** The managed-device collection as the delta workload's change stream
  * evolves it. Each round changes `changes` ids: `tombstones` deletions,
  * as many re-creations of ids deleted earlier (so the collection keeps
  * its size), and updates for the rest. The model keeps the expected
  * snapshot's digest current. */
final class DeviceModel(tenant: GraphTenant, size: Int, changes: Int,
    val tombstones: Int) {
  require(changes >= 2 * tombstones)
  private val version = Array.fill(size + tombstones)(0)
  private val alive = ArrayBuffer.range(0, size)
  private val dead = scala.collection.mutable.Queue.range(size, size + tombstones)

  def current: IndexedSeq[Obj] = alive.toIndexedSeq.map(i => tenant.device(i, version(i)))

  private def rowHash(i: Int): Long =
    Canon.hash(tenant.deviceSourceRow(tenant.device(i, version(i))))

  var digest: Canon.Digest =
    alive.foldLeft(Canon.empty)((d, i) => d + Canon.Digest(1L, rowHash(i)))

  /** Advances the model by delta round `round`; returns its change
    * records (upserts as full entities, deletions as tombstones). */
  def advance(round: Int): IndexedSeq[Obj] = {
    val r = tenant.rng(11, round)
    val chosen = scala.collection.mutable.LinkedHashSet[Int]()
    while (chosen.size < changes - tombstones)
      chosen += alive(r.nextInt(alive.size))
    val (deleted, updated) = chosen.toIndexedSeq.splitAt(tombstones)
    val recreated = IndexedSeq.fill(tombstones)(dead.dequeue())
    deleted.foreach { i =>
      digest -= Canon.Digest(1L, rowHash(i))
      alive -= i
      dead.enqueue(i)
    }
    updated.foreach { i =>
      digest -= Canon.Digest(1L, rowHash(i))
      version(i) += 1
      digest += Canon.Digest(1L, rowHash(i))
    }
    recreated.foreach { i =>
      version(i) += 1
      alive += i
      digest += Canon.Digest(1L, rowHash(i))
    }
    val records = (updated ++ recreated).map(i => tenant.device(i, version(i))) ++
      deleted.map(tenant.tombstone)
    // deterministic shuffle: a service returns changes in no set order
    val a = records.toArray
    var k = a.length - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t; k -= 1 }
    a.toIndexedSeq
  }
}
