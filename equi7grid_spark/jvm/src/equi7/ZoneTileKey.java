package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF3;

/**
 * (lon, lat, tile size m) -> packed zone+tile key, or null when the
 * point is outside every zone:
 *   (zc << 28) | ((tx + 8192) << 14) | (ty + 8192)
 * with tx = floor(x / ts) in the zone's AEQD meters.
 *
 * The flagship one-call kernel: zone resolve (baked-in cell map +
 * exact parity for boundary cells, ZoneData) + Vincenty forward +
 * floor keying -- one scan, zero joins, one shuffle on a single long.
 * Null for a null argument or a NaN/infinite coordinate or tile size;
 * never throws. Registered as `equi7_zone_tile_key`.
 */
public class ZoneTileKey implements UDF3<Double, Double, Double, Long>, Serializable {
    // reused per-thread scratch: the flagship calls this once per row,
    // so a fresh double[2] per call is pure young-gen churn
    private static final ThreadLocal<double[]> SCRATCH =
            ThreadLocal.withInitial(() -> new double[2]);

    @Override
    public Long call(Double lon, Double lat, Double ts) {
        if (!Vincenty.finite(lon) || !Vincenty.finite(lat) || !Vincenty.finite(ts)) return null;
        int zc = ZoneData.zoneCode(lon, lat);
        if (zc < 0) return null;
        double[] out = SCRATCH.get();
        Vincenty.forward(zc, lon, lat, out);
        long tx = (long) Math.floor(out[0] / ts);
        long ty = (long) Math.floor(out[1] / ts);
        return ((long) zc << 28) | ((tx + 8192L) << 14) | (ty + 8192L);
    }
}
