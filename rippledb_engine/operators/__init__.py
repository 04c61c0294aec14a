"""Engine-tier operators: plain DataFrame → DataFrame functions."""
