package equi7;

import java.io.Serializable;
import java.util.concurrent.ConcurrentHashMap;
import org.apache.spark.sql.api.java.UDF3;
import scala.collection.Seq;

/**
 * (v array<double>, n_bands, n_planes) -> array<int> of per-band
 * hyperplane-LSH bucket ids: bit p of band b is set when the dot
 * product of v with plane (b, p) is > 0. Each dot product accumulates
 * left to right over the dimension axis, the arithmetic of the
 * oracle's list_dot_product(v, plane) > 0.
 *
 * The plane coefficients are a port of dedup.emb_plane_value
 * (splitmix64 with 64-bit wraparound, which Java's long arithmetic
 * gives for free); the n_bands * n_planes * dim matrix is built once
 * per (n_bands, n_planes, dim) and cached for the JVM's lifetime.
 *
 * Hostile input never throws. Every non-null array gets one bucket
 * per band, with the oracle's CASE WHEN dot > 0 sign-bit semantics:
 * an empty or all-zero vector has every dot 0, and a NaN or null
 * element makes every dot NaN (a null element counts as NaN; the
 * oracle's dot is NULL, which sets no bit either), so all of those
 * get bucket 0 in every band. Only a null array, or n_planes outside 1..31 or
 * n_bands outside 1..256, gives null. Registered as
 * `equi7_emb_buckets`.
 */
public class EmbBuckets implements UDF3<Seq<Double>, Integer, Integer, int[]>, Serializable {
    private static final ConcurrentHashMap<Long, double[]> PLANES = new ConcurrentHashMap<>();

    /** dedup.emb_plane_value: a splitmix64 finalizer mapped to -9..9. */
    static double planeValue(long band, long plane, long dim) {
        long z = band * 0x9E3779B97F4A7C15L
                + plane * 0xBF58476D1CE4E5B9L
                + dim * 0x94D049BB133111EBL
                + 0x123456789ABCDEF1L;
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
        z ^= z >>> 31;
        return (double) ((z >>> 40) % 19 - 9);
    }

    /** Row-major (band * n_planes + plane, dim) plane matrix. */
    static double[] planes(int nBands, int nPlanes, int dim) {
        long key = ((long) nBands << 40) | ((long) nPlanes << 32) | dim;
        return PLANES.computeIfAbsent(key, k -> {
            double[] p = new double[nBands * nPlanes * dim];
            for (int b = 0; b < nBands; b++)
                for (int q = 0; q < nPlanes; q++)
                    for (int d = 0; d < dim; d++)
                        p[(b * nPlanes + q) * dim + d] = planeValue(b, q, d);
            return p;
        });
    }

    @Override
    public int[] call(Seq<Double> v, Integer nBands, Integer nPlanes) {
        if (v == null || nBands == null || nPlanes == null) return null;
        if (nBands < 1 || nBands > 256 || nPlanes < 1 || nPlanes > 31) return null;
        double[] x = values(v);
        return signBuckets(x, planes(nBands, nPlanes, x.length), nBands, nPlanes);
    }

    /** The vector as doubles, a null element as NaN. */
    static double[] values(Seq<Double> v) {
        int dim = v.length();
        double[] x = new double[dim];
        for (int d = 0; d < dim; d++) {
            Double e = v.apply(d);
            x[d] = e == null ? Double.NaN : e;
        }
        return x;
    }

    /** The sign loop of both banding entries: bit q of band b is set when
     *  the left-to-right dot of x with row b * nPlanes + q of p is > 0. */
    static int[] signBuckets(double[] x, double[] p, int nBands, int nPlanes) {
        int dim = x.length;
        int[] out = new int[nBands];
        for (int b = 0; b < nBands; b++) {
            int bucket = 0;
            for (int q = 0; q < nPlanes; q++) {
                int row = (b * nPlanes + q) * dim;
                double dot = 0.0;
                for (int d = 0; d < dim; d++) dot += x[d] * p[row + d];
                if (dot > 0) bucket |= 1 << q;
            }
            out[b] = bucket;
        }
        return out;
    }
}
