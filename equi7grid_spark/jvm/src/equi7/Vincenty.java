package equi7;

/**
 * WGS84 Vincenty inverse geodesic + Equi7 AEQD forward projection.
 *
 * Exact transliteration of the engine's NumPy kernel
 * (equi7grid_spark/geodesy.py geodesic_inverse/aeqd_forward): same
 * formulae, same tol=1e-13 lambda fixed-point, same coincident-point
 * guard -- so the compiled kernel and the NumPy reference agree to
 * float64 round-off (pinned < 1e-8 m by tests/test_assign_jvm.py).
 *
 * Zone constants reproduce the published Equi7Grid definitions
 * (reference _create_grids.py:44-91), order AF AN AS EU OC NA SA.
 */
final class Vincenty {
    static final double A = 6378137.0;
    static final double FLAT = 1.0 / 298.257223563;
    static final double B = A * (1.0 - FLAT);
    static final double[] LAT0 = {8.5, -90.0, 47.0, 53.0, -19.5, 52.0, -14.0};
    static final double[] LON0 = {21.5, 0.0, 94.0, 24.0, 131.5, -97.5, -60.5};
    static final double[] X0 = {5621452.01998, 3714266.97719, 4340913.84808,
            5837287.81977, 6988408.5356, 8264722.17686, 7257179.23559};
    static final double[] Y0 = {5990638.42298, 3402016.50625, 4812712.92347,
            2121415.69617, 7654884.53733, 4867518.35323, 5592024.44605};

    // zone-center trigonometry hoisted out of the per-row path: the
    // zone latitude is one of 7 constants, so U1 = atan((1-f) tan
    // (phi1)) and its sin/cos (forward), and tanU1 (inverse) are
    // class-init-time tables -- the SAME double ops on the SAME inputs
    // as the former per-call computation, hence bit-identical results,
    // minus ~4 transcendentals per row on the flagship hot path.
    static final double[] SIN_U1 = new double[LAT0.length];
    static final double[] COS_U1 = new double[LAT0.length];
    static final double[] TAN_U1 = new double[LAT0.length];
    static {
        for (int z = 0; z < LAT0.length; z++) {
            double phi1 = Math.toRadians(LAT0[z]);
            double u1 = Math.atan((1.0 - FLAT) * Math.tan(phi1));
            SIN_U1[z] = Math.sin(u1);
            COS_U1[z] = Math.cos(u1);
            TAN_U1[z] = (1.0 - FLAT) * Math.tan(phi1);
        }
    }

    private Vincenty() {}

    /** The UDF entries' hostile-input guard: they return null unless
     *  every coordinate and tile size passes this, so one bad row never
     *  fails a job (NaN would otherwise land in a garbage tile). */
    static boolean finite(Double v) {
        return v != null && Double.isFinite(v);
    }

    /** A non-null code of one of the 7 zones. */
    static boolean zone(Byte zc) {
        return zc != null && zc >= 0 && zc < LAT0.length;
    }

    /** AEQD forward for zone code zc; writes {x, y} into out. */
    static void forward(int zc, double lon, double lat, double[] out) {
        double phi1 = Math.toRadians(LAT0[zc]);
        double phi2 = Math.toRadians(lat);
        double L = Math.toRadians(
                (((lon - LON0[zc]) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0);
        double U2 = Math.atan((1.0 - FLAT) * Math.tan(phi2));
        double sinU1 = SIN_U1[zc], cosU1 = COS_U1[zc];
        double sinU2 = Math.sin(U2), cosU2 = Math.cos(U2);
        double lam = L;
        double ss = 0.0, cs = 1.0, sig = 0.0, sa = 0.0, csa = 1.0, c2sm = 0.0;
        for (int i = 0; i < 100; i++) {
            double sl = Math.sin(lam), cl = Math.cos(lam);
            double t1 = cosU2 * sl;
            double t2 = cosU1 * sinU2 - sinU1 * cosU2 * cl;
            ss = Math.hypot(t1, t2);
            cs = sinU1 * sinU2 + cosU1 * cosU2 * cl;
            sig = Math.atan2(ss, cs);
            sa = ss != 0.0 ? cosU1 * cosU2 * sl / ss : 0.0;
            csa = 1.0 - sa * sa;
            c2sm = csa != 0.0 ? cs - 2.0 * sinU1 * sinU2 / csa : 0.0;
            double c = FLAT / 16.0 * csa * (4.0 + FLAT * (4.0 - 3.0 * csa));
            double lamNew = L + (1.0 - c) * FLAT * sa
                    * (sig + c * ss * (c2sm + c * cs * (-1.0 + 2.0 * c2sm * c2sm)));
            double delta = Math.abs(lamNew - lam);
            lam = lamNew;
            if (delta <= 1e-13) break;
        }
        double u2 = csa * (A * A - B * B) / (B * B);
        double ab = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)));
        double bb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)));
        double dsig = bb * ss * (c2sm + bb / 4.0 * (cs * (-1.0 + 2.0 * c2sm * c2sm)
                - bb / 6.0 * c2sm * (-3.0 + 4.0 * ss * ss) * (-3.0 + 4.0 * c2sm * c2sm)));
        double s = B * ab * (sig - dsig);
        double az1 = Math.atan2(cosU2 * Math.sin(lam),
                cosU1 * sinU2 - sinU1 * cosU2 * Math.cos(lam));
        if (Math.abs(phi1 - phi2) < 1e-15 && Math.abs(L) < 1e-15) {
            s = 0.0;
            az1 = 0.0;
        }
        out[0] = X0[zc] + s * Math.sin(az1);
        out[1] = Y0[zc] + s * Math.cos(az1);
    }

    /** AEQD inverse for zone code zc (the Vincenty DIRECT problem from
     *  the zone center along azimuth atan2(dx, dy) for distance
     *  hypot(dx, dy)); writes {lon, lat} into out. Exact
     *  transliteration of geodesy.geodesic_direct (same tol=1e-13
     *  sigma fixed-point, same closing formulae); registered as
     *  `equi7_lonlat`. */
    static void inverse(int zc, double x, double y, double[] out) {
        double dx = x - X0[zc], dy = y - Y0[zc];
        double s = Math.hypot(dx, dy);
        double az1 = Math.atan2(dx, dy);
        double sinA1 = Math.sin(az1), cosA1 = Math.cos(az1);
        double tanU1 = TAN_U1[zc];
        double cosU1 = 1.0 / Math.sqrt(1.0 + tanU1 * tanU1);
        double sinU1 = tanU1 * cosU1;
        double sig1 = Math.atan2(tanU1, cosA1);
        double sinAlpha = cosU1 * sinA1;
        double csa = 1.0 - sinAlpha * sinAlpha;
        double u2 = csa * (A * A - B * B) / (B * B);
        double ab = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)));
        double bb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)));
        double sig0 = s / (B * ab);
        double sig = sig0;
        for (int i = 0; i < 100; i++) {
            double c2sm = Math.cos(2.0 * sig1 + sig);
            double ssig = Math.sin(sig);
            double csig = Math.cos(sig);
            double delta = bb * ssig * (c2sm + bb / 4.0 * (csig * (-1.0 + 2.0 * c2sm * c2sm)
                    - bb / 6.0 * c2sm * (-3.0 + 4.0 * ssig * ssig)
                      * (-3.0 + 4.0 * c2sm * c2sm)));
            double sigNew = sig0 + delta;
            double diff = Math.abs(sigNew - sig);
            sig = sigNew;
            if (diff < 1e-13) break;
        }
        double c2sm = Math.cos(2.0 * sig1 + sig);
        double ssig = Math.sin(sig);
        double csig = Math.cos(sig);
        double tmp = sinU1 * ssig - cosU1 * csig * cosA1;
        double phi2 = Math.atan2(sinU1 * csig + cosU1 * ssig * cosA1,
                (1.0 - FLAT) * Math.hypot(sinAlpha, tmp));
        double lam = Math.atan2(ssig * sinA1, cosU1 * csig - sinU1 * ssig * cosA1);
        double c = FLAT / 16.0 * csa * (4.0 + FLAT * (4.0 - 3.0 * csa));
        double L = lam - (1.0 - c) * FLAT * sinAlpha
                * (sig + c * ssig * (c2sm + c * csig * (-1.0 + 2.0 * c2sm * c2sm)));
        out[0] = ((LON0[zc] + Math.toDegrees(L) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0;
        out[1] = Math.toDegrees(phi2);
    }
}
