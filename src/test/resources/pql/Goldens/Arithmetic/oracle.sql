SELECT EventId,
       DamageProperty + DamageCrops AS "add",
       DamageProperty - DamageCrops AS "sub",
       InjuriesDirect * 3 AS "mul",
       InjuriesDirect / 2 AS "div",
       EventId % 4 AS "mod",
       -EventId AS "neg",
       InjuriesDirect AS "pos",
       BeginLat * 2 - 0.25::DOUBLE AS "lat"
FROM StormEvents
WHERE EventId <= 6
ORDER BY EventId ASC NULLS FIRST
