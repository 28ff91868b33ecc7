package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, BooleanType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** SQL-standard authorization surface: roles, role grants, and object
  * privilege grants.
  *
  * Reference behavior: ql/.../parse/DDLSemanticAnalyzer.java:438,456-459
  * (analyzeCreateRole / analyzeGrantRevokeRole / analyzeGrant /
  * analyzeRevoke / analyzeShowGrant) executed by
  * ql/.../exec/DDLTask.java:697-713 against the metastore's ROLES /
  * ROLE_MAP / TBL_PRIVS tables. Spark has no authorization parser at all,
  * so the statements are intercepted as text (frontend.Router) and answered
  * from this session-scoped registry.
  *
  * Design notes:
  *  - State is per-SparkSession (weak-keyed: sessions are collectable),
  *    mirroring a metastore-per-warehouse: one registry regardless of how
  *    many threads run statements. All mutation is synchronized on the
  *    state — DDL rates are human-scale, contention is irrelevant.
  *  - `public` and `admin` are reserved implicit roles (Hive
  *    SQLStdHiveAccessController): every user holds `public`; neither can
  *    be created or dropped.
  *  - With `hive.security.authorization.enabled=false` (the 1.2 default)
  *    this is pure ACCOUNTING: GRANT/REVOKE/SHOW maintain and answer the
  *    registry while query execution never consults it. Setting the conf
  *    TRUE turns on enforcement (round 13): reads need Select on every
  *    input, writes the matching output privilege, duplicate grants
  *    error — the legacy DefaultHiveAuthorizationProvider contract
  *    (clientnegative/authorization_fail_*.q), wired in
  *    frontend.Guards.enforceAuthorization. `admin` role bypasses. Column-level
  *    grants enforce per column: `select(key)` admits reads touching
  *    only `key` (the analyzed plan's per-table referenced columns)
  *    and refuses anything wider — authorization_1.q's contract.
  */
object Auth {

  final case class RoleGrant(role: String, principal: String,
      principalType: String, adminOption: Boolean, grantTime: Long,
      grantor: String)

  final case class PrivGrant(database: String, table: String,
      principal: String, principalType: String, privilege: String,
      grantOption: Boolean, grantTime: Long, grantor: String,
      columns: Seq[String] = Nil) // empty = whole-table grant

  final class State {
    val roles = mutable.LinkedHashSet[String]("public", "admin")
    val roleGrants = mutable.ArrayBuffer[RoleGrant]()
    val privGrants = mutable.ArrayBuffer[PrivGrant]()
    /** SET ROLE selection; None = ALL granted roles active (the default). */
    var currentRoles: Option[Set[String]] = None
    /** (db, table) → creating user, lowercase keys — the SQL-std model's
      * OBJECT OWNERSHIP axis (HiveV2 SQLStdHiveAccessController: the
      * object owner holds every privilege WITH GRANT OPTION implicitly).
      * Recorded by the engine at CREATE TABLE/VIEW; tables created before
      * tracking (fixture views) have no entry and are owned by no one. */
    val owners = mutable.HashMap[(String, String), String]()
  }

  private val states =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, State]())

  def state(spark: SparkSession): State = states.synchronized {
    states.asScala.getOrElseUpdate(spark, new State)
  }

  /** Immutable copy of the session's authorization registry, for harnesses
    * that must roll back whatever a failing script half-did (a negative
    * script dies mid-way, so its CREATE ROLE / GRANT residue would leak
    * into every later test on the shared session). */
  final case class Snapshot(roles: Seq[String], roleGrants: Seq[RoleGrant],
      privGrants: Seq[PrivGrant], currentRoles: Option[Set[String]],
      owners: Map[(String, String), String] = Map.empty)

  def snapshot(spark: SparkSession): Snapshot = {
    val st = state(spark)
    st.synchronized {
      Snapshot(st.roles.toSeq, st.roleGrants.toSeq, st.privGrants.toSeq,
        st.currentRoles, st.owners.toMap)
    }
  }

  def restore(spark: SparkSession, snap: Snapshot): Unit = {
    val st = state(spark)
    st.synchronized {
      st.roles.clear(); st.roles ++= snap.roles
      st.roleGrants.clear(); st.roleGrants ++= snap.roleGrants
      st.privGrants.clear(); st.privGrants ++= snap.privGrants
      st.currentRoles = snap.currentRoles
      st.owners.clear(); st.owners ++= snap.owners
    }
  }

  /** Session identity: the `user.name` session conf when set (the
    * reference's SessionStateConfigUserAuthenticator — its sql-std test
    * scripts switch identity with `SET user.name=...`), else the JVM
    * user. Conf-first means a script CAN act as several users; nothing
    * sets the conf by default, so standalone behavior is unchanged. */
  private def user(spark: SparkSession): String =
    spark.conf.getOption("user.name").map(_.trim).filter(_.nonEmpty)
      .getOrElse(System.getProperty("user.name", "anonymous"))
  private def now(): Long = System.currentTimeMillis() / 1000

  // ---- enforcement (hive.security.authorization.enabled=true) -----------
  // The 1.2 default provider (DefaultHiveAuthorizationProvider,
  // ql/security/authorization/): when the conf is on, reads need a
  // Select grant on every input table and writes need the matching
  // privilege on the output — granted to the USER directly or to a ROLE
  // the user holds (legacy model: no implicit owner-gets-all; the
  // creating user is denied too until granted —
  // clientnegative/authorization_fail_2.q). `admin` role bypasses
  // (SQLStdHiveAccessController's superuser role). Column-level grants
  // (select(key)) are ENFORCED: hasPriv requires the union of a user's
  // column grants to cover every column the analyzed plan references on
  // that table (authorization_1.q — select(key) admits `SELECT key`,
  // refuses other columns; missingColumn supplies the reference's
  // columnName-carrying error text). Write privileges (Insert/Update/
  // Delete/...) stay table-level, as in the reference.

  def enforcementEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("hive.security.authorization.enabled")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** SQL-standard authorizer selected (the reference's
    * hive.security.authorization.manager naming an SQLStdHiveAuthorizer*
    * factory). Adds the V2 model's axes on top of enforcement: OBJECT
    * OWNERSHIP gates DROP/RENAME, and GRANT itself requires the grantor
    * to be admin, the owner, or to hold the privilege WITH GRANT OPTION
    * (authorization_not_owner_drop_tab.q,
    * authorization_grant_table_fail_nogrant.q). */
  def sqlStdEnabled(spark: SparkSession): Boolean =
    enforcementEnabled(spark) &&
      spark.conf.getOption("hive.security.authorization.manager")
        .exists(_.toLowerCase.contains("sqlstd"))

  /** Engine-facing probes for sql-std statement gates. */
  def isAdminSession(spark: SparkSession): Boolean = {
    val st = state(spark)
    st.synchronized { isAdmin(spark, st) }
  }
  def currentUser(spark: SparkSession): String = user(spark)

  /** Record table/view ownership at CREATE (engine hook). */
  def recordOwner(spark: SparkSession, db: String, table: String): Unit = {
    val st = state(spark)
    st.synchronized {
      st.owners.update((db.toLowerCase, table.toLowerCase), user(spark))
    }
  }

  /** Move the ownership entry on ALTER TABLE/VIEW RENAME — Hive's
    * metastore keeps the owner across a rename. No-op when the source
    * has no recorded owner. */
  def renameOwner(spark: SparkSession, db: String, table: String,
      newDb: String, newTable: String): Unit = {
    val st = state(spark)
    st.synchronized {
      st.owners.remove((db.toLowerCase, table.toLowerCase)).foreach { o =>
        st.owners.update((newDb.toLowerCase, newTable.toLowerCase), o)
      }
    }
  }

  def ownerOf(spark: SparkSession, db: String, table: String): Option[String] = {
    val st = state(spark)
    st.synchronized { st.owners.get((db.toLowerCase, table.toLowerCase)) }
  }

  private def isAdmin(spark: SparkSession, st: State): Boolean =
    activePrincipals(spark, st).contains(("ROLE", "admin"))

  /** SQL-std OBJECT OWNERSHIP gate (no-op unless sqlStdEnabled): the
    * current user must own the object or hold admin; refuses with the
    * reference's HiveAccessControlException text. */
  def enforceOwnership(spark: SparkSession, operation: String,
      db: String, table: String): Unit = {
    if (!sqlStdEnabled(spark)) return
    // Absent object: let the statement's own existence handling run —
    // `DROP TABLE IF EXISTS absent` must no-op and a plain DROP must
    // raise table-not-found; a permission error about an object that
    // doesn't exist is the wrong shape (and a stale owners entry from a
    // dropped table would otherwise gate its name forever).
    val exists =
      try spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      catch { case _: Exception => true } // unresolvable name: keep the gate
    if (!exists) return
    val st = state(spark)
    st.synchronized {
      val u = user(spark)
      if (isAdmin(spark, st)) return
      st.owners.get((db.toLowerCase, table.toLowerCase)) match {
        // object created outside engine tracking (spark.sql directly, or
        // before tracking began): lazily backfill the owner from the
        // catalog's own owner field — Hive's metastore ALWAYS records an
        // owner and the reference fails closed, so absence must not mean
        // ungated when the catalog knows better. Only when the catalog
        // carries no owner either (InMemoryCatalog leaves it empty) does
        // the gate stay open, so a creator isn't locked out of their own
        // pre-tracking table. The privilege gates (Drop/Alter) still run.
        case None =>
          val catOwner =
            try Option(spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
              .owner).map(_.trim).filter(_.nonEmpty)
            catch { case _: Exception => None }
          catOwner match {
            case None => return
            case Some(o) =>
              st.owners.update((db.toLowerCase, table.toLowerCase), o)
              if (o == u) return
              sys.error(s"Permission denied: Principal [name=$u, " +
                "type=USER] does not have following privileges for " +
                s"operation $operation [[OBJECT OWNERSHIP] on Object " +
                s"[type=TABLE_OR_VIEW, name=$db.$table]]")
          }
        case Some(o) if o == u => return
        case Some(_) =>
          sys.error(s"Permission denied: Principal [name=$u, type=USER] does " +
            s"not have following privileges for operation $operation " +
            s"[[OBJECT OWNERSHIP] on Object [type=TABLE_OR_VIEW, name=$db.$table]]")
      }
    }
  }

  /** Transitive closure over role-to-role grants: holding role P yields
    * every role R granted TO ROLE P, recursively (the reference's role
    * hierarchy — SQLStdHiveAccessController getCurrentRoles walks
    * get_role_grants_for_principal transitively;
    * clientpositive/authorization_rolehierarchy_privs.q). Grant-time
    * cycle refusal bounds the walk, but cap the frontier anyway. */
  private def expandRoles(st: State, seed: Set[String]): Set[String] = {
    var acc = seed
    var frontier = seed
    var hops = 0
    while (frontier.nonEmpty && hops < 64) {
      val next = st.roleGrants.filter(g => g.principalType == "ROLE" &&
        frontier.contains(g.principal.toLowerCase))
        .map(_.role.toLowerCase).toSet -- acc
      acc ++= next
      frontier = next
      hops += 1
    }
    acc
  }

  /** The principals the session user currently holds: USER name plus
    * active roles (SET ROLE selection, else every granted role), each
    * expanded through the role hierarchy, plus the implicit public role. */
  private def activePrincipals(spark: SparkSession, st: State): Set[(String, String)] = {
    val u = user(spark)
    val roles = expandRoles(st, st.currentRoles.getOrElse(
      st.roleGrants.filter(g => g.principalType == "USER" && g.principal == u)
        .map(_.role.toLowerCase).toSet + "public"))
    roles.map(r => ("ROLE", r)) + (("USER" -> u))
  }

  def hasPriv(spark: SparkSession, db: String, table: String,
      priv: String, needed: Set[String] = Set.empty): Boolean = {
    val st = state(spark)
    st.synchronized {
      val ps = activePrincipals(spark, st)
      if (ps.contains(("ROLE", "admin"))) return true
      // sql-std model: the object OWNER holds every privilege implicitly
      // (SQLStdHiveAccessController filterPrivObjects OWNER_PRIV); under
      // the legacy provider ownership confers nothing (authorization_fail_2.q)
      if (sqlStdEnabled(spark) &&
          st.owners.get((db.toLowerCase, table.toLowerCase))
            .contains(user(spark))) return true
      val matching = st.privGrants.filter { g =>
        (g.privilege.equalsIgnoreCase(priv) ||
          g.privilege.equalsIgnoreCase("ALL")) &&
          ps.exists(p => p._1 == g.principalType &&
            p._2.equalsIgnoreCase(g.principal)) &&
          g.database.equalsIgnoreCase(db) &&
          (g.table.isEmpty || g.table.equalsIgnoreCase(table))
      }
      // a whole-table grant covers everything; otherwise the union of
      // column grants must cover every column the access touches
      // (authorization_1.q: select(key) admits `SELECT key`, refuses
      // other columns)
      matching.exists(_.columns.isEmpty) || {
        val granted = matching.flatMap(_.columns).map(_.toLowerCase).toSet
        granted.nonEmpty && needed.forall(c => granted.contains(c.toLowerCase))
      }
    }
  }

  /** The first column of `needed` no grant covers (for the reference's
    * columnName-carrying error text), or None when the failure is
    * table-level. */
  def missingColumn(spark: SparkSession, db: String, table: String,
      priv: String, needed: Set[String]): Option[String] = {
    val st = state(spark)
    st.synchronized {
      val ps = activePrincipals(spark, st)
      val granted = st.privGrants.filter { g =>
        (g.privilege.equalsIgnoreCase(priv) ||
          g.privilege.equalsIgnoreCase("ALL")) &&
          ps.exists(p => p._1 == g.principalType &&
            p._2.equalsIgnoreCase(g.principal)) &&
          g.database.equalsIgnoreCase(db) &&
          (g.table.isEmpty || g.table.equalsIgnoreCase(table))
      }.flatMap(_.columns).map(_.toLowerCase).toSet
      if (granted.isEmpty) None
      else needed.toSeq.sorted.find(c => !granted.contains(c.toLowerCase))
    }
  }

  /** Refuse when enforcement is on and no grant covers the access —
    * the reference's exact error text (Driver.doAuthorization →
    * "Authorization failed:No privilege ... Use SHOW GRANT ..."). */
  def enforce(spark: SparkSession, priv: String, db: String, table: String,
      output: Boolean, needed: Set[String] = Set.empty): Unit =
    if (enforcementEnabled(spark) && !hasPriv(spark, db, table, priv, needed)) {
      val colPart = missingColumn(spark, db, table, priv, needed)
        .map(c => s", columnName:$c").getOrElse("")
      sys.error(s"Authorization failed:No privilege '$priv' found for " +
        (if (output) "outputs" else "inputs") +
        s" { database:$db, table:$table$colPart}. " +
        "Use SHOW GRANT to get more details.")
    }

  // ---- statement grammar (Hive 1.2 authorization DDL) -------------------
  private val createRoleRe = """(?is)\s*CREATE\s+ROLE\s+`?([\w]+)`?\s*;?\s*""".r
  private val dropRoleRe   = """(?is)\s*DROP\s+ROLE\s+`?([\w]+)`?\s*;?\s*""".r
  private val showRolesRe  = """(?is)\s*SHOW\s+ROLES\s*;?\s*""".r
  private val showCurrentRe = """(?is)\s*SHOW\s+CURRENT\s+ROLES\s*;?\s*""".r
  private val setRoleRe    = """(?is)\s*SET\s+ROLE\s+`?([\w]+)`?\s*;?\s*""".r
  private val grantRoleRe =
    """(?is)\s*GRANT\s+(?:ROLE\s+)?([\w`,\s]+?)\s+TO\s+(.+?)(\s+WITH\s+ADMIN\s+OPTION)?\s*;?\s*""".r
  private val revokeRoleRe =
    """(?is)\s*REVOKE\s+(?:ADMIN\s+OPTION\s+FOR\s+)?(?:ROLE\s+)?([\w`,\s]+?)\s+FROM\s+(.+?)\s*;?\s*""".r
  private val grantPrivRe =
    """(?is)\s*GRANT\s+([\w,\s()]+?)\s+ON\s+(?:(TABLE|DATABASE)\s+)?`?([\w.]+)`?\s+TO\s+(.+?)(\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*""".r
  private val revokePrivRe =
    """(?is)\s*REVOKE\s+(?:GRANT\s+OPTION\s+FOR\s+)?([\w,\s()]+?)\s+ON\s+(?:(TABLE|DATABASE)\s+)?`?([\w.]+)`?\s+FROM\s+(.+?)\s*;?\s*""".r
  // one privilege with an optional column list: select(key, value)
  private val privItemRe = """(\w+)\s*(?:\(([^)]*)\))?""".r
  private val showGrantRe =
    """(?is)\s*SHOW\s+GRANT\s*(?:(USER|GROUP|ROLE)\s+`?([\w]+)`?)?\s*(?:ON\s+(?:(ALL)|(?:TABLE\s+)?`?([\w.]+)`?\s*(?:\(([\w,\s]*)\))?))?\s*;?\s*""".r
  private val showRoleGrantRe =
    """(?is)\s*SHOW\s+ROLE\s+GRANT\s+(USER|GROUP|ROLE)\s+`?([\w]+)`?\s*;?\s*""".r
  private val showPrincipalsRe =
    """(?is)\s*SHOW\s+PRINCIPALS\s+`?([\w]+)`?\s*;?\s*""".r

  /** Fast pre-filter so the router doesn't regex every statement. */
  def handles(stmt: String): Boolean = {
    val u = stmt.trim.stripPrefix(";").trim.toUpperCase.replaceAll("\\s+", " ")
    u.startsWith("CREATE ROLE") || u.startsWith("DROP ROLE") ||
    u.startsWith("GRANT") || u.startsWith("REVOKE") ||
    u.startsWith("SHOW ROLES") || u.startsWith("SHOW CURRENT ROLES") ||
    u.startsWith("SHOW ROLE GRANT") || u.startsWith("SHOW GRANT") ||
    u.startsWith("SHOW PRINCIPALS") ||
    setRoleRe.pattern.matcher(stmt).matches()
  }

  /** principal_list: `USER hue, GROUP eng, ROLE analyst` — bare names get
    * Hive's default principal type USER. */
  private def principals(text: String): Seq[(String, String)] =
    text.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      val m = """(?is)(USER|GROUP|ROLE)\s+`?([\w]+)`?""".r
      p match {
        case m(t, n) => (t.toUpperCase, n)
        case n => ("USER", n.replaceAll("`", "").trim)
      }
    }

  private def names(text: String): Seq[String] =
    text.split(",").toSeq.map(_.replaceAll("`", "").trim).filter(_.nonEmpty)

  private def splitObj(spark: SparkSession, kind: String, obj: String): (String, String) = {
    val parts = obj.split("\\.")
    if (kind != null && kind.equalsIgnoreCase("DATABASE")) (obj, "")
    else if (parts.length == 2) (parts(0), parts(1))
    else (spark.catalog.currentDatabase, obj)
  }

  private def out(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private val roleSchema = StructType(Seq(StructField("role", StringType)))
  // SHOW GRANT column set: DDLTask.java writeGrantInfo (Hive 1.2 text
  // output normalized to columns)
  private val grantSchema = StructType(Seq(
    StructField("database", StringType), StructField("table", StringType),
    StructField("principal_name", StringType),
    StructField("principal_type", StringType),
    StructField("privilege", StringType),
    StructField("grant_option", BooleanType),
    StructField("grant_time", LongType),
    StructField("grantor", StringType)))
  private val roleGrantSchema = StructType(Seq(
    StructField("role", StringType),
    StructField("grant_option", BooleanType),
    StructField("grant_time", LongType),
    StructField("grantor", StringType)))
  private val principalSchema = StructType(Seq(
    StructField("principal_name", StringType),
    StructField("principal_type", StringType),
    StructField("grant_option", BooleanType),
    StructField("grant_time", LongType),
    StructField("grantor", StringType)))

  /** Try to execute `stmt` as authorization DDL. None = not an auth
    * statement (caller falls through to Spark SQL). */
  def run(spark: SparkSession, stmt: String): Option[DataFrame] = {
    if (!handles(stmt)) return None
    val st = state(spark)
    Some(stmt match {
      case createRoleRe(r) => st.synchronized {
        val role = r.toLowerCase
        require(role != "public" && role != "admin",
          s"$role is a reserved role name")
        // ALL/DEFAULT/NONE are SET ROLE keywords — a role by those names
        // could never be selected (SQLStdHiveAccessController
        // createRole; authorization_cannot_create_default_role.q /
        // _none_role.q: "Role name cannot be one of the reserved roles")
        require(role != "all" && role != "default" && role != "none",
          s"Role name cannot be one of the reserved roles: [ALL, DEFAULT, NONE]")
        // sql-std: role administration is admin-only
        // (authorization_create_role_no_admin.q)
        if (sqlStdEnabled(spark) && !isAdmin(spark, st))
          sys.error(s"Current user : ${user(spark)} is not allowed to add " +
            "roles. User has to belong to ADMIN role and have it as " +
            "current role, for this action.")
        require(st.roles.add(role), s"role $role already exists")
        spark.emptyDataFrame
      }
      case dropRoleRe(r) => st.synchronized {
        val role = r.toLowerCase
        require(role != "public" && role != "admin",
          s"reserved role $role cannot be dropped")
        // sql-std: admin-only (authorization_drop_role_no_admin.q)
        if (sqlStdEnabled(spark) && !isAdmin(spark, st))
          sys.error(s"Current user : ${user(spark)} is not allowed to " +
            "drop role. User has to belong to ADMIN role and have it as " +
            "current role, for this action.")
        require(st.roles.remove(role), s"role $role does not exist")
        st.roleGrants.filterInPlace(_.role != role)
        st.privGrants.filterInPlace(g =>
          !(g.principalType == "ROLE" && g.principal == role))
        st.currentRoles = st.currentRoles.map(_ - role)
        spark.emptyDataFrame
      }
      case showRolesRe() => st.synchronized {
        // sql-std: listing ALL roles is admin-only (SHOW CURRENT ROLES
        // is the any-user form) — SQLStdHiveAccessController.getAllRoles,
        // clientnegative/authorization_show_roles_no_admin.q
        if (sqlStdEnabled(spark) && !isAdmin(spark, st))
          sys.error(s"Current user : ${user(spark)} is not allowed to list " +
            "roles. User has to belong to ADMIN role and have it as current " +
            "role, for this action.")
        out(spark, roleSchema, st.roles.toSeq.sorted.map(Row(_)))
      }
      case showCurrentRe() => st.synchronized {
        val u = user(spark)
        val granted = st.roleGrants
          .filter(g => g.principalType == "USER" && g.principal == u)
          .map(_.role).toSet + "public"
        val active = st.currentRoles.fold(granted)(_.intersect(granted + "admin"))
        out(spark, roleSchema, active.toSeq.sorted.map(Row(_)))
      }
      case setRoleRe(r) => st.synchronized {
        r.toUpperCase match {
          case "ALL"  => st.currentRoles = None
          case "NONE" => st.currentRoles = Some(Set("public"))
          case _ =>
            val role = r.toLowerCase
            require(st.roles.contains(role), s"role $role does not exist")
            // sql-std: SET ROLE may select only a role the user actually
            // holds (directly or through the hierarchy) — admin excepted
            // (SQLStdHiveAccessController setCurrentRole,
            // clientnegative/authorization_set_role_neg2.q)
            if (sqlStdEnabled(spark) && !isAdmin(spark, st) && role != "public") {
              val held = expandRoles(st,
                st.roleGrants.filter(g => g.principalType == "USER" &&
                  g.principal == user(spark))
                  .map(_.role.toLowerCase).toSet + "public")
              require(held.contains(role),
                s"${user(spark)} doesn't belong to role $role")
            }
            st.currentRoles = Some(Set(role, "public"))
        }
        spark.emptyDataFrame
      }
      // priv grant carries ON — match it before the role-grant shape
      case grantPrivRe(privs, kind, obj, to, withGrant) => st.synchronized {
        val (db, tbl) = splitObj(spark, kind, obj)
        // the reference refuses granting on a table that does not exist
        // (SemanticAnalyzer getTable — "Table not found"); recording the
        // grant anyway would silently authorize a future table of that name
        if (tbl.nonEmpty) {
          val exists = try {
            spark.sessionState.catalog.tableExists(
              org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some(db))) ||
            // a TEMPORARY VIEW is a legal grant target in scripts that
            // stage fixture data as views (the reference grants on views)
            spark.sessionState.catalog.getTempView(tbl).nonEmpty ||
            spark.sessionState.catalog.getGlobalTempView(tbl).nonEmpty
          } catch { case _: Exception => false }
          require(exists, s"Table not found $db.$tbl")
        }
        // sql-std: only SELECT/INSERT/UPDATE/DELETE/ALL are grantable —
        // legacy-mode verbs (CREATE/ALTER/DROP/INDEX/LOCK/...) refuse
        // (SQLPrivTypeGrant.getSQLPrivTypeGrant,
        // clientnegative/authorization_invalid_priv_v2.q)
        if (sqlStdEnabled(spark)) {
          val grantable = Set("SELECT", "INSERT", "UPDATE", "DELETE", "ALL")
          privItemRe.findAllMatchIn(privs).map(_.group(1).toUpperCase)
            .find(!grantable.contains(_)).foreach { bad =>
              sys.error(s"Unsupported privilege type ${bad}: only " +
                "SELECT/INSERT/UPDATE/DELETE/ALL are grantable under the " +
                "sql-std authorizer")
            }
        }
        // SQL-std grantor gate (GRANT_PRIVILEGE operation,
        // authorization_grant_table_fail1.q / _fail_nogrant.q): under the
        // sql-std authorizer a GRANT needs the grantor to be admin, the
        // object's OWNER (owners hold everything with grant implicitly),
        // or a holder of that privilege WITH GRANT OPTION. Checked before
        // any mutation so a multi-priv GRANT stays atomic.
        if (sqlStdEnabled(spark)) {
          val u = user(spark)
          val owner = st.owners.get((db.toLowerCase, tbl.toLowerCase)).contains(u)
          if (!isAdmin(spark, st) && !owner) {
            val ps = activePrincipals(spark, st)
            privItemRe.findAllMatchIn(privs).map(_.group(1).toUpperCase)
              .foreach { priv =>
                val viaGrantOpt = st.privGrants.exists { g =>
                  g.grantOption && g.database.equalsIgnoreCase(db) &&
                    (g.table.isEmpty || g.table.equalsIgnoreCase(tbl)) &&
                    (g.privilege.equalsIgnoreCase(priv) ||
                      g.privilege.equalsIgnoreCase("ALL")) &&
                    ps.exists(p => p._1 == g.principalType &&
                      p._2.equalsIgnoreCase(g.principal))
                }
                if (!viaGrantOpt)
                  sys.error(s"Permission denied: Principal [name=$u, " +
                    "type=USER] does not have following privileges for " +
                    s"operation GRANT_PRIVILEGE [[$priv with grant] on " +
                    s"Object [type=TABLE_OR_VIEW, name=$db.$tbl]]")
              }
          }
        }
        for {
          m <- privItemRe.findAllMatchIn(privs).toSeq
          priv = m.group(1).toUpperCase
          cols = Option(m.group(2)).toSeq.flatMap(
            _.split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty))
            .sorted // order-insensitive: (key,value) == (value,key)
          (pt, pn) <- principals(to)
        } {
          if (pt == "ROLE") require(st.roles.contains(pn.toLowerCase),
            s"role $pn does not exist")
          val g = PrivGrant(db, tbl, pn, pt, priv, withGrant != null,
            now(), user(spark), cols)
          // with the authorizer ON, a duplicate grant is the metastore's
          // PK violation surfaced as an error (authorization_fail_1.q:
          // "CREATE is already granted on table ..."); with it off the
          // registry keeps refresh semantics (pinned in Round8Spec)
          val dup = st.privGrants.exists(x => x.database == g.database &&
            x.table == g.table && x.principal == g.principal &&
            x.principalType == g.principalType && x.privilege == g.privilege &&
            x.columns == g.columns)
          if (dup && enforcementEnabled(spark))
            sys.error(s"$priv is already granted on table [$db,$tbl] " +
              s"by ${user(spark)}")
          st.privGrants.filterInPlace(x => !(x.database == g.database &&
            x.table == g.table && x.principal == g.principal &&
            x.principalType == g.principalType && x.privilege == g.privilege &&
            x.columns == g.columns))
          st.privGrants += g
        }
        spark.emptyDataFrame
      }
      case revokePrivRe(privs, kind, obj, from) => st.synchronized {
        val (db, tbl) = splitObj(spark, kind, obj)
        val items = privItemRe.findAllMatchIn(privs).toSeq.map(m =>
          (m.group(1).toUpperCase, Option(m.group(2)).toSeq.flatMap(
            _.split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty))
            .sorted))
        val all = items.exists(_._1 == "ALL")
        def matches(x: PrivGrant, pt: String, pn: String): Boolean =
          x.database == db && x.table == tbl && x.principal == pn &&
            x.principalType == pt &&
            (all || items.exists { case (pv, cs) =>
              pv == x.privilege && (cs.isEmpty || cs == x.columns) })
        val ps = principals(from)
        // with the authorizer ON, revoking a privilege that was never
        // granted is the metastore's "no grant found" refusal
        // (clientnegative/authorization_revoke_table_fail1.q: "Cannot
        // find privilege to revoke"); with it off the registry keeps
        // idempotent-revoke semantics, mirroring the duplicate-grant rule.
        // Validate EVERY principal BEFORE mutating (r14 advice): a
        // multi-principal revoke where one principal lacks the grant must
        // refuse atomically, not strip the holders first and then throw
        if (enforcementEnabled(spark))
          for ((pt, pn) <- ps if !st.privGrants.exists(matches(_, pt, pn)))
            sys.error(s"Cannot find privilege to revoke on table [$db,$tbl] " +
              s"from $pt $pn")
        for ((pt, pn) <- ps)
          st.privGrants.filterInPlace(x => !matches(x, pt, pn))
        spark.emptyDataFrame
      }
      case showRoleGrantRe(pt, pn) => st.synchronized {
        val rows = st.roleGrants
          .filter(g => g.principalType == pt.toUpperCase && g.principal == pn)
          .map(g => Row(g.role, g.adminOption, g.grantTime, g.grantor)).toSeq
        val withPublic = if (pt.equalsIgnoreCase("USER"))
          Row("public", false, 0L, "") +: rows else rows
        out(spark, roleGrantSchema, withPublic)
      }
      case showPrincipalsRe(r) => st.synchronized {
        val role = r.toLowerCase
        require(st.roles.contains(role), s"role $role does not exist")
        out(spark, principalSchema, st.roleGrants.filter(_.role == role)
          .map(g => Row(g.principal, g.principalType, g.adminOption,
            g.grantTime, g.grantor)).toSeq)
      }
      case showGrantRe(pt, pn, all, obj, objCols) => st.synchronized {
        val byPrincipal: PrivGrant => Boolean =
          if (pt == null) _ => true
          else g => g.principalType == pt.toUpperCase && g.principal == pn
        // `ON TABLE t(key)` filters to grants covering that column:
        // whole-table grants plus column grants naming it
        val wantCols = Option(objCols).toSeq.flatMap(
          _.split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty))
        val byObj: PrivGrant => Boolean =
          if (obj == null || all != null) _ => true
          else { val (db, tbl) = splitObj(spark, null, obj)
            g => g.database == db && g.table == tbl &&
              (wantCols.isEmpty || g.columns.isEmpty ||
                wantCols.forall(c => g.columns.map(_.toLowerCase).contains(c))) }
        out(spark, grantSchema,
          st.privGrants.filter(g => byPrincipal(g) && byObj(g))
            .sortBy(g => (g.database, g.table, g.principal, g.privilege))
            .map(g => Row(g.database, g.table, g.principal, g.principalType,
              g.privilege, g.grantOption, g.grantTime, g.grantor)).toSeq)
      }
      case grantRoleRe(rs, to, withAdmin) => st.synchronized {
        for {
          r <- names(rs).map(_.toLowerCase)
          (pt, pn) <- principals(to)
        } {
          require(st.roles.contains(r), s"role $r does not exist")
          // sql-std: granting a role requires the grantor to be admin or
          // to hold THAT role WITH ADMIN OPTION (SQLStdHiveAccessController
          // grantRole; clientnegative/authorization_role_grant.q)
          if (sqlStdEnabled(spark) && !isAdmin(spark, st)) {
            val u = user(spark)
            val hasAdminOption = st.roleGrants.exists(g =>
              g.role == r && g.adminOption &&
                ((g.principalType == "USER" && g.principal == u) ||
                  (g.principalType == "ROLE" &&
                    activePrincipals(spark, st).contains(("ROLE", g.principal.toLowerCase)))))
            if (!hasAdminOption)
              sys.error(s"Current user : $u is not allowed to grant role. " +
                "User has to belong to ADMIN role and have it as current " +
                "role, for this action. Otherwise, grantor need to have " +
                "ADMIN OPTION on role being granted and have it as a " +
                "current role for this action.")
          }
          if (pt == "ROLE") {
            val target = pn.toLowerCase
            // the target of a role-to-role grant must itself exist
            // (clientnegative/authorization_role_grant_nosuchrole.q:
            // "Cannot find role")
            require(st.roles.contains(target),
              s"Cannot find role $target: role does not exist")
            // granting r to target makes target contain r; if r already
            // (transitively) contains target this closes a cycle
            // (clientnegative/authorization_role_cycles1.q / cycles2.q:
            // "Cannot grant role ... (no cycles allowed)")
            if (target == r || expandRoles(st, Set(r)).contains(target))
              sys.error(s"Cannot grant role $r to $target as $target " +
                s"already belongs to the role $r. (no cycles allowed)")
          }
          st.roleGrants.filterInPlace(x => !(x.role == r &&
            x.principal == pn && x.principalType == pt))
          st.roleGrants += RoleGrant(r, pn, pt, withAdmin != null, now(), user(spark))
        }
        spark.emptyDataFrame
      }
      case revokeRoleRe(rs, from) => st.synchronized {
        val roles = names(rs).map(_.toLowerCase).toSet
        for ((pt, pn) <- principals(from))
          st.roleGrants.filterInPlace(x => !(roles.contains(x.role) &&
            x.principal == pn && x.principalType == pt))
        spark.emptyDataFrame
      }
      case other => throw new IllegalArgumentException(
        s"unrecognized authorization statement: ${other.trim.take(120)}")
    })
  }
}
