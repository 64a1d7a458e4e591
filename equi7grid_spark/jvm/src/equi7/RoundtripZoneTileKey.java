package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF3;

/**
 * (lon, lat, tile size m) -> packed zone+tile key of the PROJECTION
 * ROUNDTRIP forward(inverse(forward(lon, lat))), or null when the
 * point is outside every zone:
 *   (zc << 28) | ((tx + 8192) << 14) | (ty + 8192)
 * with tx = floor(x2 / ts) in the zone's AEQD meters after the
 * fwd -> inv -> fwd closure.
 *
 * Fused kernel for the roundtrip-closure query: the same three
 * Vincenty.forward/inverse calls the separate equi7_xy /
 * equi7_lonlat / equi7_xy chain makes, in the same order on the same
 * doubles (bit-identical results), but with ONE UDF invocation per
 * row instead of four (zone resolve + 3 projections) -- no per-call
 * boxed-arg + ArrayData result traffic between them. Null for a null
 * argument or a NaN/infinite coordinate or tile size; never throws.
 * Registered as `equi7_roundtrip_zone_tile_key`.
 */
public class RoundtripZoneTileKey implements UDF3<Double, Double, Double, Long>, Serializable {
    private static final ThreadLocal<double[]> SCRATCH =
            ThreadLocal.withInitial(() -> new double[2]);

    @Override
    public Long call(Double lon, Double lat, Double ts) {
        if (!Vincenty.finite(lon) || !Vincenty.finite(lat) || !Vincenty.finite(ts)) return null;
        int zc = ZoneData.zoneCode(lon, lat);
        if (zc < 0) return null;
        double[] out = SCRATCH.get();
        Vincenty.forward(zc, lon, lat, out);
        // scalar args are read before the array is overwritten
        Vincenty.inverse(zc, out[0], out[1], out);
        Vincenty.forward(zc, out[0], out[1], out);
        long tx = (long) Math.floor(out[0] / ts);
        long ty = (long) Math.floor(out[1] / ts);
        return ((long) zc << 28) | ((tx + 8192L) << 14) | (ty + 8192L);
    }
}
