package equi7;

import java.io.Serializable;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.Arrays;
import org.apache.spark.sql.api.java.UDF3;
import scala.collection.Seq;

/**
 * (v array<double>, planes binary, n_planes int) -> array<int> of
 * sign-LSH bucket ids, the sign loop of EmbBuckets against the
 * caller's planes: a little-endian float64 matrix, row-major (band *
 * n_planes + plane, dim), with n_bands = its length / (8 * n_planes *
 * dim). An array<double> literal argument would be converted to a
 * boxed Seq on every row; the blob is decoded once per task.
 *
 * Hostile input never throws: zero, NaN and null-element vectors get
 * bucket 0 in every band, as in EmbBuckets. A null argument, an empty
 * array, n_planes outside 1..31 or a blob that is not a positive
 * multiple of 8 * n_planes * dim bytes gives null. Registered as
 * `equi7_sign_buckets`.
 */
public class SignBuckets implements UDF3<Seq<Double>, byte[], Integer, int[]>, Serializable {

    /** The last plane blob this instance decoded, with its doubles. */
    private static final class Decoded {
        final byte[] blob;
        final double[] planes;
        Decoded(byte[] blob) {
            this.blob = blob;
            this.planes = new double[blob.length / 8];
            ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(planes);
        }
    }

    private transient volatile Decoded last;

    @Override
    public int[] call(Seq<Double> v, byte[] planes, Integer nPlanes) {
        if (v == null || planes == null || nPlanes == null) return null;
        if (nPlanes < 1 || nPlanes > 31) return null;
        int dim = v.length();
        long bandBytes = 8L * nPlanes * dim;
        if (dim == 0 || planes.length == 0 || planes.length % bandBytes != 0) return null;
        Decoded d = last;
        if (d == null || (d.blob != planes && !Arrays.equals(d.blob, planes))) {
            d = new Decoded(planes);
            last = d;
        }
        int nBands = (int) (planes.length / bandBytes);
        return EmbBuckets.signBuckets(EmbBuckets.values(v), d.planes, nBands, nPlanes);
    }
}
