package graft.ops.editorial

import graft.core.io.Storage
import java.io.IOException
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One evaluated retry step (the RetryHandler decision for one incoming
  * retry message).
  */
final case class RetryStep(reference: String, seq: Int, incoming: Int,
                           expected: Int, route: String)

/** The editorial retry protocol (RetryHandler,
  * tre_editorial_integration.py:432-542): a retry message for a consignment
  * must carry `number-of-retries` exactly one past the last saved retry
  * folder; the saved `output-message.json` is reloaded, bumped, and saved
  * under the new folder; the retry limit (3,
  * tre_bagit_checksum_validation.py:159-163 + the Step Function's
  * "Exceeded Editorial Retry Limit Check") hard-fails the consignment.
  *
  * Two renderings:
  *  - `retryStateMachine`: the decision logic as a distributed per-key
  *    sequential scan (groupByKey + flatMapSortedGroups) — used by the
  *    `ev_editorial_retry` oracle query.
  *  - `handleRetry`: the storage-backed single-consignment round trip
  *    (discover folders → assert expected → reload → bump → save), runnable
  *    on executors (one task per consignment, like the reference's one
  *    Lambda per retry message).
  */
object RetryLoop {

  /** Evaluate retry sequences per reference: for each incoming message (in
    * `seqCol` order), `expected` = last accepted retry + 1 (the prior stage
    * leaves folder 0, so state starts at 0). Routes:
    *  - `fail`  — incoming ≥ maxRetries (limit check fires before the
    *              handler; terminal for that message)
    *  - `error` — incoming ≠ expected (RetryHandler raises; state unchanged)
    *  - `retry` — accepted; state advances to incoming
    */
  def retryStateMachine(df: DataFrame, refCol: String, seqCol: String,
                        retriesCol: String, maxRetries: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(refCol).cast("string").as("reference"),
        col(seqCol).cast("int").as("seq"),
        col(retriesCol).cast("int").as("incoming"))
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("seq")) { (ref, it) =>
        var last = 0
        it.map { case (_, seq, incoming) =>
          val expected = last + 1
          val route =
            if (incoming >= maxRetries) "fail"
            else if (incoming != expected) "error"
            else { last = incoming; "retry" }
          RetryStep(ref, seq, incoming, expected, route)
        }
      }
      .toDF()
  }

  /** State layout mirrors the reference's S3 keys:
    * `<root>/<consignment-type>/<reference>/<tdrRetry>/<edRetry>/output-message.json`.
    */
  def messagePath(stateRoot: String, consignmentType: String, reference: String,
                  tdrRetry: Int, edRetry: Int): Path =
    new Path(stateRoot, s"$consignmentType/$reference/$tdrRetry/$edRetry/output-message.json")

  /** Rewrite the `number-of-retries` field inside `editorial-output`
    * (the reference mutates the loaded dict in place). The message is our
    * own render, so the field shape is fixed.
    */
  private[editorial] def bumpRetries(json: String, to: Int): String =
    json.replaceFirst(""""number-of-retries"\s*:\s*"?\d+"?""",
      s""""number-of-retries":$to""")

  /** One RetryHandler pass (process(),
    * tre_editorial_integration.py:484-542): find the latest TDR retry
    * folder, then the last editorial retry under it; require
    * incoming == last+1; reload the saved output-message.json, bump its
    * retry count, save it under the new folder. Returns the saved path and
    * the new message, or the reference's error text (a missing saved
    * message included).
    *
    * The new folder is published whole, as an S3 put is atomic
    * (object_lib.py:54-85): the message is written into a hidden,
    * non-numeric sibling dir and that dir is renamed to the folder number.
    * A write or rename that fails raises and leaves no folder behind, so a
    * re-delivery of the same retry finds the same last folder.
    */
  def handleRetry(conf: Configuration, stateRoot: String, consignmentType: String,
                  reference: String, incoming: Int): Either[String, (String, String)] = {
    val root = new Path(stateRoot, s"$consignmentType/$reference")
    val fs = root.getFileSystem(conf)
    Storage.maxNumericChildFolder(fs, root) match {
      case None => Left("No TDR output data found")
      case Some(tdr) =>
        val edRoot = new Path(root, tdr.toString)
        Storage.maxNumericChildFolder(fs, edRoot) match {
          case None => Left("No Editorial output data found")
          case Some(last) =>
            val expected = last + 1
            if (incoming != expected)
              Left(s"""Expected number-of-retries to be "$expected" but got "$incoming"""")
            else {
              val prior = Storage.readString(fs, new Path(edRoot, s"$last/output-message.json"))
              prior.map { msg =>
                val bumped = bumpRetries(msg, expected)
                val folder = new Path(edRoot, expected.toString)
                val staged = new Path(edRoot, s".$expected.${UUID.randomUUID}")
                try {
                  Storage.writeString(fs, new Path(staged, "output-message.json"), bumped,
                    overwrite = false)
                  Storage.rename(fs, staged, folder)
                } catch { case e: IOException => fs.delete(staged, true); throw e }
                (new Path(folder, "output-message.json").toString, bumped)
              }
            }
        }
    }
  }

  /** Seed attempt-0 state: the editorial stage's first output-message.json
    * under `<root>/<type>/<ref>/0/0/` (the "at least 0 from TDR stage"
    * folder RetryHandler requires), only where no seed exists — the K1
    * guard (object_lib.py:107-109) that makes a re-delivered consignment a
    * no-op. Like the reference's head-then-put, the check and the write
    * are two steps. `message` is evaluated only where no seed exists, so a
    * re-delivery costs the check alone. The message is staged beside the
    * seed and renamed in, so a write that fails part-way leaves no seed and
    * a re-delivery starts afresh. Returns the seed's path, or None when a
    * seed already existed (its bytes are left as they are).
    */
  def seedState(conf: Configuration, stateRoot: String, consignmentType: String,
                reference: String, message: => String): Option[String] = {
    val p = messagePath(stateRoot, consignmentType, reference, 0, 0)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) None
    else {
      val staged = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}")
      Storage.writeString(fs, staged, message, overwrite = false)
      try Storage.rename(fs, staged, p)
      catch { case e: IOException => fs.delete(staged, false); throw e }
      Some(p.toString)
    }
  }
}
