package graft

/** Provenance stamps for generated round artifacts (bench/verify output).
  * The r6→r7 LEAKCHECK diff was a bare `"round": 6 → 7` bump with no way
  * to tell WHICH tree or WHEN produced it; every artifact this repo emits
  * now carries the commit SHA and a UTC timestamp so artifacts are
  * distinguishable and auditable without archaeology.
  *
  * The SHA is the one the build wrote into the classpath resource
  * `graft/commit` at compile time, so a snapshotted class dir
  * (`GRAFT_CLASSES=<dir> tools/run.sh ...`) reports the commit it was built
  * from wherever it runs. Without that resource it comes from reading
  * `.git/HEAD` directly (no subprocess — the mains must work under any
  * launcher): detached HEAD is the SHA itself, a symbolic ref resolves
  * through `refs/...` or `packed-refs`. A missing or unreadable git dir
  * degrades to "unknown", never an exception. */
object RunMeta {
  def utcNow(): String =
    java.time.Instant.now().toString

  def commitSha(repoRoot: String = "."): String =
    builtFrom.getOrElse(gitSha(repoRoot))

  /** The commit in the build's `graft/commit` resource, if it names one. */
  private def builtFrom: Option[String] = try {
    Option(getClass.getResourceAsStream("/graft/commit")).map { in =>
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }.filter(sha => sha.nonEmpty && sha != "unknown")
  } catch { case _: Exception => None }

  /** The commit `.git` under `repoRoot` has checked out, or "unknown". */
  private[graft] def gitSha(repoRoot: String): String = try {
    val git = java.nio.file.Paths.get(repoRoot, ".git")
    if (!java.nio.file.Files.isDirectory(git)) "unknown"
    else {
      val head = java.nio.file.Files.readString(git.resolve("HEAD")).trim
      if (!head.startsWith("ref:")) head
      else {
        val ref = head.stripPrefix("ref:").trim
        val refFile = git.resolve(ref)
        if (java.nio.file.Files.isRegularFile(refFile))
          java.nio.file.Files.readString(refFile).trim
        else {
          val packed = git.resolve("packed-refs")
          if (!java.nio.file.Files.isRegularFile(packed)) "unknown"
          else java.nio.file.Files.readAllLines(packed).stream()
            .filter(l => l.endsWith(" " + ref))
            .map[String](_.split(" ")(0)).findFirst().orElse("unknown")
        }
      }
    }
  } catch { case _: Exception => "unknown" }

  /** `"commit":"<sha>","generated_at":"<iso8601>"` — splice into any JSON
    * object body. */
  def jsonFields(): String =
    s""""commit":"${commitSha()}","generated_at":"${utcNow()}""""
}
