package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF4;

/**
 * (zone code, lon, lat, tile size m) -> packed tile key:
 * ((tx + 8192) << 14) | (ty + 8192), tx = floor(x / ts), ty likewise.
 * One boxed long out instead of an ArrayData allocation + two
 * element_at gathers -- this is the flagship aggregation key.
 * |tx|,|ty| < 8192 holds for every standard tiling (|x|,|y| < 2.1e7 m,
 * smallest ts = 1e5 m -> |t| <= 210). Null for a null argument, a zone
 * code outside 0..6 or a NaN/infinite coordinate or tile size; never
 * throws. Registered as `equi7_tile_key`.
 */
public class TileKey implements UDF4<Byte, Double, Double, Double, Long>, Serializable {
    private static final ThreadLocal<double[]> SCRATCH =
            ThreadLocal.withInitial(() -> new double[2]);

    @Override
    public Long call(Byte zc, Double lon, Double lat, Double ts) {
        if (!Vincenty.zone(zc) || !Vincenty.finite(lon) || !Vincenty.finite(lat)
                || !Vincenty.finite(ts)) {
            return null;
        }
        double[] out = SCRATCH.get();
        Vincenty.forward(zc.intValue(), lon, lat, out);
        long tx = (long) Math.floor(out[0] / ts);
        long ty = (long) Math.floor(out[1] / ts);
        return ((tx + 8192L) << 14) | (ty + 8192L);
    }
}
