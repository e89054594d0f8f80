"""Declared schemas (SURVEY.md §1).

The reference enforces a three-stage schema lifecycle: dynamic JSON at
extraction, dynamic rows during transform, then a *declared* rectangular
schema at load (DataTable column list mirroring the SQL DDL —
`Invoke-GraphDataPipelineToAzureSQLDatabase.ps1:255-285`,
`Prepare-SQLDatabase.sql:7-40`).  Extra source fields are silently dropped,
missing fields become NULL (`Invoke…ps1:288-307`).

Here each entity is a Spark ``StructType``; ``operators.project.conform``
applies the drop-extra / null-missing / cast semantics declaratively.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Graph source-shaped schemas (FIXTURES.md §B — nested raw records)
# ---------------------------------------------------------------------------

# mirrors the ManagedDevices $select payload (Invoke…ps1:22) incl. nested
# configurationManagerClientHealthState (T1) and usersLoggedOn (T2).
MANAGED_DEVICE_RAW = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("userId", T.StringType()),
        T.StructField("deviceName", T.StringType()),
        T.StructField("managedDeviceOwnerType", T.StringType()),
        T.StructField("enrolledDateTime", T.StringType()),
        T.StructField("lastSyncDateTime", T.StringType()),
        T.StructField("complianceState", T.StringType()),
        T.StructField("managementAgent", T.StringType()),
        T.StructField("osVersion", T.StringType()),
        T.StructField("azureADRegistered", T.BooleanType()),
        T.StructField("deviceEnrollmentType", T.StringType()),
        T.StructField("emailAddress", T.StringType()),
        T.StructField("azureADDeviceId", T.StringType()),
        T.StructField("deviceRegistrationState", T.StringType()),
        T.StructField("isEncrypted", T.BooleanType()),
        T.StructField("userPrincipalName", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("manufacturer", T.StringType()),
        T.StructField("serialNumber", T.StringType()),
        T.StructField("userDisplayName", T.StringType()),
        T.StructField(
            "configurationManagerClientHealthState",
            T.StructType(
                [
                    T.StructField("state", T.StringType()),
                    T.StructField("errorCode", T.LongType()),
                    T.StructField("lastSyncDateTime", T.StringType()),
                ]
            ),
        ),
        T.StructField("managedDeviceName", T.StringType()),
        T.StructField("managementCertificateExpirationDate", T.StringType()),
        T.StructField(
            "usersLoggedOn",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("userId", T.StringType()),
                        T.StructField("lastLogOnDateTime", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("joinType", T.StringType()),
        T.StructField("skuFamily", T.StringType()),
        T.StructField("autopilotEnrolled", T.BooleanType()),
    ]
)

# mirrors the CloudPC audit-events $select payload (Export…ps1:34) incl.
# nested actor (T3) and resources (T4).
AUDIT_EVENT_RAW = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("displayName", T.StringType()),
        T.StructField("componentName", T.StringType()),
        T.StructField("activityDateTime", T.StringType()),
        T.StructField("activityType", T.StringType()),
        T.StructField("activityResult", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField(
            "actor",
            T.StructType(
                [
                    T.StructField("applicationDisplayName", T.StringType()),
                    T.StructField("userPrincipalName", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "resources",
            T.ArrayType(T.StructType([T.StructField("displayName", T.StringType())])),
        ),
    ]
)

# ---------------------------------------------------------------------------
# Declared load schemas (SURVEY.md §1.4 — mirror of the SQL DDL)
# ---------------------------------------------------------------------------

# ManagedDevices target: 29 load columns (Prepare-SQLDatabase.sql:58-89);
# timestamps are datetime2 → TimestampType, bit → BooleanType,
# configurationManagerClientErrorCode int/long (Invoke…ps1:219).
MANAGED_DEVICE_TARGET = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("userId", T.StringType()),
        T.StructField("deviceName", T.StringType()),
        T.StructField("managedDeviceOwnerType", T.StringType()),
        T.StructField("enrolledDateTime", T.TimestampType()),
        T.StructField("lastSyncDateTime", T.TimestampType()),
        T.StructField("complianceState", T.StringType()),
        T.StructField("managementAgent", T.StringType()),
        T.StructField("osVersion", T.StringType()),
        T.StructField("azureADRegistered", T.BooleanType()),
        T.StructField("deviceEnrollmentType", T.StringType()),
        T.StructField("emailAddress", T.StringType()),
        T.StructField("azureADDeviceId", T.StringType()),
        T.StructField("deviceRegistrationState", T.StringType()),
        T.StructField("isEncrypted", T.BooleanType()),
        T.StructField("userPrincipalName", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("manufacturer", T.StringType()),
        T.StructField("serialNumber", T.StringType()),
        T.StructField("userDisplayName", T.StringType()),
        T.StructField("configurationManagerClientHealthState", T.StringType()),
        T.StructField("configurationManagerClientErrorCode", T.LongType()),
        T.StructField("configurationManagerClientLastSyncDateTime", T.TimestampType()),
        T.StructField("managedDeviceName", T.StringType()),
        T.StructField("managementCertificateExpirationDate", T.TimestampType()),
        T.StructField("userLoggedOnUserId", T.StringType()),
        T.StructField("userLoggedOnLastLogOnDateTime", T.TimestampType()),
        T.StructField("joinType", T.StringType()),
        T.StructField("skuFamily", T.StringType()),
        T.StructField("autopilotEnrolled", T.BooleanType()),
    ]
)

# CloudPCs source payload: the 15 $select properties (Export…ps1:22) — all
# scalar; CloudPCs is the reference's identity-transform entity (T9,
# Export…ps1:217-219).
CLOUDPC_RAW = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("displayName", T.StringType()),
        T.StructField("imageDisplayName", T.StringType()),
        T.StructField("provisioningPolicyId", T.StringType()),
        T.StructField("provisioningPolicyName", T.StringType()),
        T.StructField("onPremisesConnectionName", T.StringType()),
        T.StructField("servicePlanId", T.StringType()),
        T.StructField("servicePlanName", T.StringType()),
        T.StructField("userPrincipalName", T.StringType()),
        T.StructField("lastModifiedDateTime", T.StringType()),
        T.StructField("managedDeviceId", T.StringType()),
        T.StructField("managedDeviceName", T.StringType()),
        T.StructField("aadDeviceId", T.StringType()),
        T.StructField("gracePeriodEndDateTime", T.StringType()),
        T.StructField("provisioningType", T.StringType()),
    ]
)

# CloudPCs target: 19 load columns (Prepare-SQLDatabase-CloudPCs.sql:47-67
# table type) — the 15 $select properties plus 4 DDL-only columns
# (servicePlanType, diskEncryptionState, statusDetails, statusDescription,
# `…CloudPCs.sql:23-27`) that arrive NULL unless the API returns them:
# the schema-superset tolerance case (SURVEY.md §1.4).
CLOUDPC_TARGET = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("displayName", T.StringType()),
        T.StructField("imageDisplayName", T.StringType()),
        T.StructField("provisioningPolicyId", T.StringType()),
        T.StructField("provisioningPolicyName", T.StringType()),
        T.StructField("onPremisesConnectionName", T.StringType()),
        T.StructField("servicePlanId", T.StringType()),
        T.StructField("servicePlanName", T.StringType()),
        T.StructField("userPrincipalName", T.StringType()),
        T.StructField("lastModifiedDateTime", T.TimestampType()),
        T.StructField("managedDeviceId", T.StringType()),
        T.StructField("managedDeviceName", T.StringType()),
        T.StructField("aadDeviceId", T.StringType()),
        T.StructField("gracePeriodEndDateTime", T.TimestampType()),
        T.StructField("servicePlanType", T.StringType()),
        T.StructField("diskEncryptionState", T.StringType()),
        T.StructField("provisioningType", T.StringType()),
        T.StructField("statusDetails", T.StringType()),
        T.StructField("statusDescription", T.StringType()),
    ]
)

# CloudPC audit-events target: 10 scalar columns
# (Prepare-SQLDatabase-CloudPCAuditEvents.sql:38-49).
AUDIT_EVENT_TARGET = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("displayName", T.StringType()),
        T.StructField("componentName", T.StringType()),
        T.StructField("activityDateTime", T.TimestampType()),
        T.StructField("activityType", T.StringType()),
        T.StructField("activityResult", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("applicationDisplayName", T.StringType()),
        T.StructField("userPrincipalName", T.StringType()),
        T.StructField("resourceDisplayName", T.StringType()),
    ]
)

# events.props JSON payload (FIXTURES.md §A) for from_json (S3).
EVENT_PROPS = T.StructType([T.StructField("k", T.LongType())])
