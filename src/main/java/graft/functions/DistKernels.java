package graft.functions;

import java.math.BigDecimal;
import java.math.RoundingMode;

/**
 * The float-vector distance kernels: ONE definition of each metric formula,
 * static so Catalyst whole-stage codegen calls them by class name, and the
 * interpreted expressions, the centroid kernels, the fused quantized scan and
 * the driver-local serving rungs call the same methods — so none of them can
 * drift from another by a bit. knnJoin's rn=1 self-match needs `top_cells`
 * and `arg_min_distance` to agree on every distance to the last bit, and the
 * DuckDB oracle rounds to 6 dp.
 *
 * Every kernel widens each float to double exactly and accumulates
 * sequentially in index order, so results are bit-reproducible across
 * engines and partitionings. Formulas follow the reference
 * (pkg/distance/native_impl.go:24-53, space.go:93-95). The bodies are kept
 * small enough for C2 to inline at hot call sites (FreqInlineSize, 325
 * bytecode bytes).
 *
 * Callers resolve a metric name to its code once ({@link #metricCode}) when
 * the plan or index is built — never per row.
 */
public final class DistKernels {
    private DistKernels() {}

    public static final int COSINE = 0;
    public static final int EUCLIDEAN = 1;
    public static final int MANHATTAN = 2;
    public static final int DOT = 3;

    public static int metricCode(String metric) {
        switch (metric) {
            case "cosine": return COSINE;
            case "euclidean": return EUCLIDEAN;
            case "manhattan": return MANHATTAN;
            case "dot": return DOT;
            default: throw new IllegalArgumentException("unknown metric: " + metric);
        }
    }

    /** The metric as a distance, lower = nearer: dot is negated. */
    public static double distance(int metric, float[] a, int aOff, float[] b, int bOff, int n) {
        switch (metric) {
            case COSINE: return cosine(a, aOff, b, bOff, n);
            case EUCLIDEAN: return euclidean(a, aOff, b, bOff, n);
            case MANHATTAN: return manhattan(a, aOff, b, bOff, n);
            default: return -dot(a, aOff, b, bOff, n);
        }
    }

    /** |1 − dot/(‖a‖·‖b‖)|; a zero-norm side yields NaN (0/0). */
    public static double cosine(float[] a, int aOff, float[] b, int bOff, int n) {
        double dot = 0.0, na = 0.0, nb = 0.0;
        for (int i = 0; i < n; i++) {
            final double x = a[aOff + i];
            final double y = b[bOff + i];
            dot += x * y; na += x * x; nb += y * y;
        }
        return Math.abs(1.0 - dot / (Math.sqrt(na) * Math.sqrt(nb)));
    }

    /** √Σ(aᵢ−bᵢ)² — true L2. */
    public static double euclidean(float[] a, int aOff, float[] b, int bOff, int n) {
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            final double d = (double) a[aOff + i] - (double) b[bOff + i];
            acc += d * d;
        }
        return Math.sqrt(acc);
    }

    /** Σ|aᵢ−bᵢ|. */
    public static double manhattan(float[] a, int aOff, float[] b, int bOff, int n) {
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            acc += Math.abs((double) a[aOff + i] - (double) b[bOff + i]);
        }
        return acc;
    }

    /** +Σaᵢbᵢ; callers that rank by distance negate it. */
    public static double dot(float[] a, int aOff, float[] b, int bOff, int n) {
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            acc += (double) a[aOff + i] * (double) b[bOff + i];
        }
        return acc;
    }

    public static final int F16 = 1;
    public static final int BF16 = 2;
    public static final int F8 = 3;

    public static int formatCode(String format) {
        switch (format) {
            case "f16": return F16;
            case "bf16": return BF16;
            case "f8": return F8;
            default: throw new IllegalArgumentException("unknown quantization: " + format);
        }
    }

    /**
     * Fills dst[0, n) from quantized storage starting at src[off]: a short[]
     * for f16/bf16, a byte[] for f8. Decode-to-float is exact, so a kernel run
     * over the buffer is bit-identical to one over the dequantized vector.
     */
    public static void decode(int format, Object src, int off, float[] dst, int n) {
        if (format == F8) {
            final byte[] s = (byte[]) src;
            for (int i = 0; i < n; i++) dst[i] = QuantKernels.f8ToFloat(s[off + i]);
        } else if (format == F16) {
            final short[] s = (short[]) src;
            for (int i = 0; i < n; i++) dst[i] = QuantKernels.f16ToFloat(s[off + i]);
        } else {
            final short[] s = (short[]) src;
            for (int i = 0; i < n; i++) dst[i] = QuantKernels.bf16ToFloat(s[off + i]);
        }
    }

    /**
     * Spark's {@code round(d, 6)}: HALF_UP on {@code BigDecimal.valueOf(d)},
     * the shortest decimal that reads back as d (not the exact binary value:
     * 0.1234565 rounds to 0.123457), with NaN and ±∞ passed through.
     */
    public static double round6(double d) {
        if (Double.isNaN(d) || Double.isInfinite(d)) return d;
        return BigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue();
    }
}
