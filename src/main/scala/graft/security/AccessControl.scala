package graft.security

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** Privacy-level access control re-expressed as data-plane set algebra.
  *
  * The reference evaluates access per (user, resource) call with an
  * in-process cache (`memory_core/security/privacy.py:343-402`
  * check_access → _evaluate_access) and enumerates accessible resources
  * by looping that check over every resource
  * (`privacy.py:523-557` get_accessible_resources). Here the same
  * decision chain is one whole-frame expression over a
  * resources × principals grid, so "which of 100 TB of documents may
  * each batch principal read" is a single broadcast join, not N calls.
  *
  * Decision precedence (privacy.py:384-452, order preserved):
  *   1. owner                          → grant ("owner")
  *   2. PRIVATE                        → deny for non-owners
  *   3. RESTRICTED                     → explicit rule only
  *   4. CONFIDENTIAL                   → role permission, else explicit
  *   5. INTERNAL                       → same organization, else role
  *   6. PUBLIC                         → role permission
  * An explicit rule matches when it is valid (not expired,
  * privacy.py:48-52), names the user or one of the user's roles
  * (:54-67), and lists the permission or "*" (:469-474).
  *
  * Role permissions resolve through the role hierarchy: a role inherits
  * every parent's permissions transitively, with a visited-set guard on
  * cycles (`memory_core/security/rbac.py:622-659`
  * get_role_permissions). [[roleClosure]] computes the same reachability
  * as a keyed BFS; the frame of reached roles plays the visited set, so
  * cyclic hierarchies converge instead of looping.
  *
  * Scale contract: role tables are principal metadata — dozens to
  * thousands of rows, never data-scale — so the closure loop (bounded
  * by hierarchy DEPTH, not size) and the broadcast of the resolved
  * principal frame are deliberate. The resource side streams through
  * a single scan.
  */
object AccessControl {

  /** Transitive role reachability: (role_id, ancestor) pairs, reflexive.
    * roles: (role_id, permissions array, parent_roles array).
    * A BFS over the parent edges keyed by the starting role
    * (`GraphOps.bfsFrame`): it stops at its first empty level, which is
    * where the hierarchy stops growing, and a reached role is never
    * re-entered, so cyclic hierarchies converge.
    *
    * Like every `bfsFrame` walk it leaves one checkpoint per level, of
    * tiny role metadata: a long-lived session that calls it per request
    * frees them with `Lineage.releaseTransient`, as Bench, Profile and
    * ScaleCheck do after each query.
    */
  def roleClosure(roles: DataFrame): DataFrame = {
    val parents = roles.select(col("role_id").as("node_id"),
      explode(col("parent_roles")).as("next_id"))
    val start = roles.select(col("role_id"), col("role_id").as("node_id"))
    GraphOps.bfsFrame(parents, start, Int.MaxValue, keys = Seq("role_id"))
      .select(col("role_id"), col("node_id").as("ancestor"))
  }

  /** (role_id, permission_id): each role's own plus inherited
    * permissions (rbac.py:640-651 collect_permissions). */
  def rolePermissions(roles: DataFrame): DataFrame =
    roleClosure(roles)
      .join(broadcast(
          roles.select(col("role_id").as("ancestor"), col("permissions"))),
        "ancestor")
      .select(col("role_id"), explode(col("permissions")).as("permission_id"))
      .distinct()

  /** Roles participating in an inheritance cycle
    * (rbac.py:729-760 validate_role_hierarchy): a role is cyclic iff
    * some OTHER role is both its ancestor and its descendant in the
    * closure (or it parents itself). One self-join of the closure. */
  def cyclicRoles(roles: DataFrame): DataFrame = {
    val c = roleClosure(roles)
    val selfParent = roles
      .filter(array_contains(col("parent_roles"), col("role_id")))
      .select(col("role_id"))
    val strict = c.filter(col("role_id") =!= col("ancestor"))
    val mutual = strict.join(
        strict.select(col("role_id").as("b_role"),
          col("ancestor").as("b_anc")),
        col("role_id") === col("b_anc") && col("ancestor") === col("b_role"))
      .select(col("role_id"))
    mutual.unionByName(selfParent).distinct()
  }

  /** Resolve each principal to (user_id, user_org, has_perm) for one
    * permission type — the rbac.py:661-687 check_permission fold over
    * the user's role set, as one join + aggregate.
    * users: (user_id, roles array, org). */
  def resolvePrincipals(users: DataFrame, roles: DataFrame,
      permission: String): DataFrame = {
    val perms = rolePermissions(roles)
      .filter(col("permission_id") === permission)
    // principal frames are bounded governance metadata — broadcast
    // explicitly so the tiny joins never plan a shuffle
    users
      .select(col("user_id"), col("org").as("user_org"),
        explode_outer(col("roles")).as("role_id"))
      .join(broadcast(perms), Seq("role_id"), "left")
      .groupBy(col("user_id"), col("user_org"))
      .agg(max(col("permission_id").isNotNull).as("has_perm"))
  }

  /** (user_id, doc_id) pairs with a matching explicit access rule for
    * `permission` (privacy.py:453-480 _check_explicit_access).
    * rules: (doc_id, rule_user nullable, rule_role nullable,
    * perms array, valid boolean) — `valid` is the is_valid() expiry
    * check evaluated as data (privacy.py:48-52). */
  def explicitPairs(users: DataFrame, rules: DataFrame,
      permission: String): DataFrame = {
    val permOk = array_contains(col("perms"), permission) ||
      array_contains(col("perms"), "*")
    val live = rules.filter(col("valid") && permOk)
    // the principal side is the broadcast build; the rule table may be
    // larger (though still governance-bounded) and streams through
    val byRole = broadcast(users
        .select(col("user_id"), explode(col("roles")).as("role_id")))
      .join(live.filter(col("rule_role").isNotNull),
        col("role_id") === col("rule_role"))
      .select(col("user_id"), col("doc_id"))
    val byUser = broadcast(users.select(col("user_id")))
      .join(live.filter(col("rule_user").isNotNull),
        col("user_id") === col("rule_user"))
      .select(col("user_id"), col("doc_id"))
    byRole.unionByName(byUser).distinct()
  }

  /** The privacy.py:384-452 decision chain as one column expression.
    * Yields the grant reason, or null for deny. */
  def grantReason(level: Column, ownerId: Column, userId: Column,
      resOrg: Column, userOrg: Column, hasPerm: Column,
      explicit: Column): Column =
    when(ownerId === userId, "owner")
      .when(level === "private", lit(null))
      .when(level === "restricted", when(explicit, "explicit"))
      .when(level === "confidential",
        when(hasPerm, "role").when(explicit, "explicit"))
      .when(level === "internal",
        when(resOrg === userOrg, "organization").when(hasPerm, "role"))
      .when(level === "public", when(hasPerm, "role"))

  /** Accessible-resources enumeration (privacy.py:523-557): every
    * (user, resource) grant with its reason. `meta` is the resource
    * frame (doc_id, privacy_level, owner_id, org); the principal frame
    * is bounded by design and broadcast over it. */
  def grants(meta: DataFrame, users: DataFrame, rules: DataFrame,
      roles: DataFrame, permission: String): DataFrame = {
    val principals = resolvePrincipals(users, roles, permission)
    val expl = explicitPairs(users, rules, permission)
    meta
      .crossJoin(broadcast(principals))
      .join(expl.withColumn("explicit", lit(true)),
        Seq("user_id", "doc_id"), "left")
      .withColumn("reason",
        grantReason(col("privacy_level"), col("owner_id"), col("user_id"),
          col("org"), col("user_org"), col("has_perm"),
          coalesce(col("explicit"), lit(false))))
      .filter(col("reason").isNotNull)
      .select(col("user_id"), col("doc_id"), col("privacy_level"),
        col("reason"))
  }
}
