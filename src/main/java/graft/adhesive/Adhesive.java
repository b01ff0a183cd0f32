package graft.adhesive;

import org.apache.spark.sql.Row;

/**
 * Base class for dynamically-registered scalar functions ("adhesive"
 * functions). A user supplies a subclass — either as inline Java source in a
 * {@code CREATE FUNCTION ... LANGUAGE JAVA AS '<source>'} statement (compiled
 * in-memory at DDL time) or as a classpath class via
 * {@code LANGUAGE CLASS AS '<fully.qualified.Name>'} — and implements
 * {@link #compute(Row)}.
 *
 * <p>Contract (mirrors the reference engine's user API, see
 * {@code /root/reference/java/src/main/java/.../Adhesive.java:36-42} and
 * {@code /root/reference/src/jvm.rs:221-238}):
 * <ul>
 *   <li><b>Positional argument access.</b> The engine hands the N declared
 *       arguments of a call {@code f(e1, ..., eN)} over as one row;
 *       implementors read them positionally — {@code row.getLong(0)},
 *       {@code row.getLong(1)}, ... — and should not access fields by
 *       name.</li>
 *   <li><b>The argument row is valid only during the call.</b> The engine
 *       reuses one row per task and refills it for the next input row, so
 *       the row must not be kept after the call returns, in a field for
 *       instance. The result is converted before the next call, so
 *       returning the row or one of its values is safe.
 *       {@code row.copy()} returns a row that keeps the values.</li>
 *   <li><b>Null results.</b> Returning Java {@code null} produces a null
 *       output slot for that input row (reference
 *       {@code Adhesive.java:94-99}). Registrations made with
 *       {@code nonNullable = true} mirror the reference's
 *       {@code computeNonNull*} fast path ({@code Adhesive.java:105-124}):
 *       the engine may elide null checks, so {@code compute} must not return
 *       null there.</li>
 *   <li><b>Exceptions fail the query.</b> A throwing {@code compute} aborts
 *       the Spark task and propagates to the driver, wrapped with the
 *       function name (improving on the reference, which loses the message —
 *       {@code src/jvm.rs:151-153}).</li>
 *   <li><b>One instance per JVM.</b> The subclass is instantiated via its
 *       no-arg constructor once per executor JVM and reused across rows and
 *       batches (mirrors the reference's JNI global-ref cache,
 *       {@code src/jvm.rs:93-102}).</li>
 * </ul>
 *
 * <p>Unlike the reference (a native engine calling into a JVM over JNI +
 * Arrow C Data Interface), this library runs entirely inside Spark's JVM:
 * {@code compute} is invoked per row from whole-stage-generated code with no
 * FFI hop, which strictly reduces the reference's per-batch overhead.
 */
public abstract class Adhesive implements java.io.Serializable {

    /**
     * Compute the function result for one input row. Arguments are read
     * positionally; the declared SQL argument types map to
     * {@code row.getLong(i)} (BIGINT), {@code row.getInt(i)} (INT),
     * {@code row.getFloat(i)} (FLOAT), {@code row.getDouble(i)} (DOUBLE),
     * {@code row.getString(i)} (STRING), {@code row.getBoolean(i)}
     * (BOOLEAN), {@code row.getDecimal(i)} (DECIMAL(p,s) — a
     * {@code java.math.BigDecimal}), {@code row.getList(i)} (ARRAY&lt;T&gt;).
     * Check {@code row.isNullAt(i)} before a primitive getter when the input
     * may be null.
     *
     * @param row the arguments, valid only during this call
     * @return the result value (boxed), or {@code null} for a null slot
     */
    public abstract Object compute(Row row);
}
